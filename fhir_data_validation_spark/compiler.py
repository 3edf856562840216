"""Rule compiler: declarative rules → Catalyst predicates / dataset plans.

The analog of the reference's dual-lane evaluation planner
(``RuleEngines/RuleEvaluationPlanner.cs:19-73``) collapsed to a single lane:
every rule compiles at driver time to either

* a **predicate entry** — (scope ``Column``, violation ``Column``, detail
  ``Column``) fused into one projection pass over the scan (SURVEY §4.3:
  one scan, many rules), or
* a **dataset plan** — an aggregation/join job (uniqueness, referential
  integrity, group cardinality, drift) executed as a separate pass that
  shares the same violations schema.

Compile-time rejection of malformed rules mirrors the reference pre-flight
(``Services/FieldPathValidator.cs:81ff``, ``FhirPathRuleEngine.cs:94-124``):
unknown columns → ``INVALID_FIELD_PATH``, missing params / bad regex / bad
expressions → ``RULE_CONFIGURATION_ERROR``. Bad rules never reach executors.
"""

from __future__ import annotations

import json
import re
import threading
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DataType, IntegralType, NumericType,
                               StringType, StructType, VariantType)

from .errors import ErrorCode, RuleConfigurationError, Severity, Stage
from .model import RuleDefinition, RuleSet

# Violations DataFrame schema — the unified error model
# (``Models/ValidationError.cs:8-100`` re-keyed to the token table).
VIOLATION_COLUMNS = (
    "doc_id", "rule_id", "rule_type", "error_code",
    "severity", "source", "column", "detail",
)


@dataclass(frozen=True)
class EngineConfig:
    """Engine-level column bindings + knobs.

    ``key_col``/``group_col`` bind the abstract (resourceId, resourceType)
    addressing of the reference (``ValidationPipeline.cs:201-238``) to
    concrete columns of the input table.
    """

    key_col: str = "doc_id"
    group_col: str = "source"
    max_examples: int = 3       # reference Take(3) example cap, FhirPathRuleEngine.cs:1994
    salt_buckets: int = 16      # salt fan-out for skewed group_col aggregations
    dedupe: bool = True         # A5 cross-stage dedup; disable when key_col is not unique
    # post-scan exchange width for violating rows; None (default) tracks the
    # session's spark.sql.shuffle.partitions — the knob already sized to the
    # cluster — instead of a hard-coded constant that would funnel a bad
    # ingest batch through a fixed number of tasks at 100× scale
    violation_partitions: int | None = None
    # governance severity downgrades keyed by rule id; Contract-class rules
    # refuse them (Models/RuleSet.cs:93-100, QuestionAnswerValidator.cs:19-23)
    severity_overrides: tuple[tuple[str, str], ...] = ()


ELEMENTS_TYPE = "array<struct<i:int,j:int,v:string>>"


@dataclass
class PredicateEntry:
    """One fused-scan rule: fires a violation struct when scope ∧ condition.

    ``elements`` (per-element rules, ``params.perElement``) carries the
    indexed bad elements; the engine fans them out into one violation per
    element AFTER the violating-rows exchange — the reference's
    one-error-per-invalid-array-element contract
    (``FhirPathRuleEngine.cs:446-478``) at O(bad elements) cost.
    """

    rule: RuleDefinition
    condition: Column           # True ⇒ violation (already includes scope)
    detail: Column              # map<string,string>
    stage: int = Stage.BUSINESS
    elements: Column | None = None  # array<struct<i,j,v>> of bad elements
    # condition contains a higher-order function (CodegenFallback): the
    # engine isolates these into their own fused chunk so they can't knock
    # the other rules' shared scan out of whole-stage codegen
    hof: bool = False

    def violation_struct(self, fired: Column | None = None) -> Column:
        """The violation struct, guarded by ``fired`` when given (the
        engine's pre-computed fired-rule bitmask test — a cheap bit check
        on the interpreted post-exchange side) or by re-evaluating
        ``condition`` otherwise."""
        r = self.rule
        elements = (self.elements if self.elements is not None
                    else F.lit(None).cast(ELEMENTS_TYPE))
        return F.when(
            self.condition if fired is None else fired,
            F.struct(
                F.lit(r.id).alias("rule_id"),
                F.lit(r.type).alias("rule_type"),
                F.lit(self._error_code()).alias("error_code"),
                F.lit(r.severity).alias("severity"),
                F.lit(r.column or "").alias("column"),
                self.detail.alias("detail"),
                F.lit(self.stage).alias("stage"),
                elements.alias("elements"),
            ),
        )

    def _error_code(self) -> str:
        return self.rule.error_code or DEFAULT_ERROR_CODES[self.rule.type]


@dataclass
class DatasetPlan:
    """A dataset-level rule executed as its own aggregation/join pass."""

    rule: RuleDefinition
    stage: int
    execute: Callable[[DataFrame, "CompiledPlan"], DataFrame]  # → violations DF
    codes: tuple[str, ...] = ()   # error codes this plan can emit


@dataclass
class CompiledPlan:
    ruleset: RuleSet
    config: EngineConfig
    schema: StructType
    predicates: list[PredicateEntry] = field(default_factory=list)
    dataset_plans: list[DatasetPlan] = field(default_factory=list)
    needs_first_scope: bool = False
    dims: dict[str, DataFrame] = field(default_factory=dict)
    # compile-time notices emitted as single dataset-level violation rows
    # (Phase B.2: ENUM_VALIDATION_SKIPPED — transparency without guessing);
    # each is a dict matching the violations schema, zero distributed cost
    notices: list = field(default_factory=list)
    # input-independent Column trees of the validate path, see memo()
    _memo: dict = field(default_factory=dict, repr=False, compare=False)
    _memo_lock: Any = field(default_factory=threading.RLock, repr=False,
                            compare=False)

    @property
    def rule_ids(self) -> list[str]:
        return [p.rule.id for p in self.predicates] + [d.rule.id for d in self.dataset_plans]

    @property
    def row_rule_ids(self) -> tuple[str, ...]:
        """Ids of the per-row predicate rules (their violations carry a
        row's group even when its key is NULL)."""
        return tuple(p.rule.id for p in self.predicates)

    def memo(self, key: Any, build: Callable[[], Any]) -> Any:
        """``build()``'s value for ``key``, built on first use and shared by
        every later validate against this plan.

        For the input-independent ``Column`` trees of the validate path
        (fused-pass filters and violation structs, verdict expressions,
        dataset-plan expressions, and frames derived from the dims alone):
        building them is driver-side py4j work that would otherwise repeat
        per call. Only name-bound ``F.col`` trees belong here, never
        ``df[...]`` (bound to one DataFrame).
        Filled lazily, not by ``compile_ruleset``, and under a lock:
        concurrent batches (``ResumableRun``) get the same objects."""
        with self._memo_lock:
            if key not in self._memo:
                self._memo[key] = build()
            return self._memo[key]

    def needs_dedupe(self) -> bool:
        """A5 dedup is only needed when two rules can emit the same
        (error_code, column) location — decidable at compile time, saving a
        full shuffle of the violations otherwise (SURVEY §4.1: skip stages
        whose inputs cannot exist)."""
        seen: set[tuple[str, str, str]] = set()
        keys: list[tuple[str, str, str]] = []
        for p in self.predicates:
            # JsonPath violations are located by (column, path): rules on
            # the same JSON column but different paths cannot collide
            keys.append((p._error_code(), p.rule.column or "",
                         str(p.rule.params.get("path") or "")))
        for d in self.dataset_plans:
            # a multi-column Reference sweep emits violations under EACH
            # swept column name, so every (code, column) pair can collide
            cols = d.rule.params.get("columns") or [d.rule.column or ""]
            keys.extend((c, col, "") for c in d.codes for col in cols)
        for k in keys:
            if k in seen:
                return True
            seen.add(k)
        return False


DEFAULT_ERROR_CODES = {
    "Required": ErrorCode.FIELD_REQUIRED,
    "FixedValue": ErrorCode.FIXED_VALUE_MISMATCH,
    "AllowedValues": ErrorCode.VALUE_NOT_ALLOWED,
    "Enum": ErrorCode.INVALID_ENUM_VALUE,
    "Regex": ErrorCode.PATTERN_MISMATCH,
    "ArrayLength": ErrorCode.ARRAY_LENGTH_OUT_OF_RANGE,
    "TokenDomain": ErrorCode.VALUE_NOT_ALLOWED,
    "SequenceShape": ErrorCode.SEQUENCE_SHAPE_VIOLATION,
    "JsonPath": ErrorCode.JSON_PATH_VIOLATION,
    "CustomExpr": ErrorCode.CUSTOM_CONDITION_FAILED,
    "Range": ErrorCode.ANSWER_OUT_OF_RANGE,
    "MaxLength": ErrorCode.MAX_LENGTH_EXCEEDED,
    "Precision": ErrorCode.PRECISION_VIOLATION,
    "TypeCheck": ErrorCode.INVALID_PRIMITIVE,
    "ValueExclusivity": ErrorCode.VALUE_EXCLUSIVITY_VIOLATION,
    "Unique": ErrorCode.DUPLICATE_KEY,
    "Reference": ErrorCode.REFERENCE_NOT_FOUND,
    "Membership": ErrorCode.CODE_NOT_IN_VALUESET,
    "CodeSystem": ErrorCode.CODE_NOT_IN_VALUESET,
    "CodeMaster": ErrorCode.INVALID_ANSWER_VALUE,
    "RequiredResources": ErrorCode.RESOURCE_REQUIREMENT_VIOLATION,
    "Drift": ErrorCode.DISTRIBUTION_DRIFT,
    "Expectation": ErrorCode.EXPECTATION_VIOLATION,
    "AggConsistency": ErrorCode.AGGREGATE_MISMATCH,
    "GroupShare": ErrorCode.GROUP_SHARE_VIOLATION,
    "DistinctBand": ErrorCode.DISTINCT_BAND_VIOLATION,
    "Outlier": ErrorCode.OUTLIER_VALUE,
    "Monotonic": ErrorCode.MONOTONICITY_VIOLATION,
    "FunctionalDependency": ErrorCode.FUNCTIONAL_DEPENDENCY_VIOLATION,
    "HeavyHitters": ErrorCode.HEAVY_HITTER_VIOLATION,
    "VectorCheck": ErrorCode.VECTOR_CHECK_FAILED,
}

# SQL higher-order-function names (case-insensitive — Spark resolves
# function names case-insensitively): expressions carrying one are
# CodegenFallback and get their own predicate chunk
_HOF_NAMES_RE = re.compile(
    r"(?i)\b(forall|exists|aggregate|reduce|transform|filter|"
    r"zip_with|map_filter|map_zip_with|transform_keys|"
    r"transform_values|array_sort)\s*\(")

# Rule type → pipeline stage (dedup authority ordering, ValidationPipeline.cs:783-827)
RULE_STAGES = {
    "TypeCheck": Stage.STRUCTURE,
    "VectorCheck": Stage.STRUCTURE,
    "SequenceShape": Stage.STRUCTURE,
    "JsonPath": Stage.BUSINESS,
    "Enum": Stage.STRUCTURE,
    "ValueExclusivity": Stage.STRUCTURE,
    "Regex": Stage.STRUCTURE,
    "Required": Stage.BUSINESS,
    "FixedValue": Stage.BUSINESS,
    "AllowedValues": Stage.BUSINESS,
    "ArrayLength": Stage.BUSINESS,
    "TokenDomain": Stage.BUSINESS,
    "CustomExpr": Stage.BUSINESS,
    "Range": Stage.CONSTRAINT,
    "MaxLength": Stage.CONSTRAINT,
    "Precision": Stage.CONSTRAINT,
    "Unique": Stage.DATASET,
    "Reference": Stage.REFERENCE,
    "Membership": Stage.BUSINESS,
    "CodeSystem": Stage.BUSINESS,
    "CodeMaster": Stage.CONSTRAINT,
    "RequiredResources": Stage.DATASET,
    "Drift": Stage.DRIFT,
    "Expectation": Stage.DATASET,
    "Outlier": Stage.DATASET,
    "AggConsistency": Stage.DATASET,
    "GroupShare": Stage.DATASET,
    "DistinctBand": Stage.DATASET,
    "Monotonic": Stage.DATASET,
    "FunctionalDependency": Stage.DATASET,
    "HeavyHitters": Stage.DATASET,
}

# rule types executed as dataset plans (aggregation/join passes)
DATASET_RULE_TYPES = ("Unique", "Reference", "Membership", "CodeSystem",
                      "CodeMaster", "RequiredResources", "Drift",
                      "Expectation", "Outlier", "AggConsistency",
                      "GroupShare", "DistinctBand", "Monotonic",
                      "FunctionalDependency", "HeavyHitters")


def _field_type(schema: StructType, name: str, rule: RuleDefinition) -> DataType:
    """Resolve a (possibly dotted) field path against the schema — the
    compile-time analog of the reference's path pre-flight
    (``Services/FieldPathValidator.cs:81ff``, P5 dot-path navigation).

    ``segment[*]`` marks array traversal (the reference's repeated-element
    navigation, ``RuleEngines/FhirPathRuleEngine.cs:648-723``, which
    descends ARBITRARY repeated depth — so does this): the path continues
    into the array's struct elements and the resolved type is the derived
    ``array<leaf>`` — a FLATTENED view when the path repeats
    (``a[*].b[*].c``, ``a[*].b[*].c[*].d``, …). Per-element details carry
    the composite index ``(i, j)``: ``i`` the outermost array index, ``j``
    the element's ordinal within the flattened remainder under ``i``
    (for two-level paths ``j`` IS the inner-array index). Arrays without
    ``[*]`` stay terminal."""
    node: DataType = schema
    parts = name.split(".")
    stars = 0
    for i, part in enumerate(parts):
        want_elements = part.endswith("[*]")
        if want_elements:
            part = part[:-3]
        if not isinstance(node, StructType):
            raise RuleConfigurationError(
                rule.id, ErrorCode.INVALID_FIELD_PATH,
                f"path {name!r}: {'.'.join(parts[:i])!r} is "
                f"{node.simpleString()}, cannot descend further"
                + (" (use 'segment[*]' to traverse arrays)"
                   if isinstance(node, ArrayType) else ""))
        match = next((f_ for f_ in node.fields if f_.name == part), None)
        if match is None:
            raise RuleConfigurationError(
                rule.id, ErrorCode.INVALID_FIELD_PATH,
                f"column {name!r} not in schema: {part!r} missing from "
                f"{[f_.name for f_ in node.fields]}")
        node = match.dataType
        if want_elements:
            if not isinstance(node, ArrayType):
                raise RuleConfigurationError(
                    rule.id, ErrorCode.INVALID_FIELD_PATH,
                    f"path {name!r}: {part!r} is {node.simpleString()}, "
                    "not an array — '[*]' traverses arrays only")
            stars += 1
            if i < len(parts) - 1:
                node = node.elementType
    if stars and not isinstance(node, ArrayType):
        # a[*].b.c — the physical value is the derived array of leaves
        # (Spark's GetArrayStructFields: a.b.c over array<struct> extracts
        # array<c> natively, inside codegen — no higher-order function);
        # repeated stars flatten every level into one leaf array
        node = ArrayType(node, containsNull=True)
    return node


def _is_element_path(name: str) -> bool:
    """True when the path traverses an array with ``[*]`` into per-element
    leaves (P5)."""
    return "[*]" in name and not name.endswith("[*]")


def _spark_path(name: str) -> str:
    """Physical column path: ``a[*].b`` → ``a.b`` (array-of-struct field
    extraction is plain dot access in Spark SQL)."""
    return name.replace("[*]", "")


def _star_segments(name: str) -> list[str]:
    """``a[*].b.c[*].d.e[*].f`` → ["a", "b.c", "d.e", "f"] — the dotted
    sub-paths between consecutive ``[*]`` markers (first = outer array
    path, last = leaf path, middles = one per additional array level)."""
    return [s.strip(".") for s in name.split("[*]")]


def _getfields(col: Column, dotted: str) -> Column:
    for seg in dotted.split("."):
        if seg:
            col = col.getField(seg)
    return col


def _flatten_levels(col: Column, mids: list[str]) -> Column:
    """Descend ``mids`` array levels below an ``array<struct>`` column,
    flattening each: ``col`` elements' ``mid`` sub-arrays are extracted,
    null sub-arrays dropped, and the result flattened to one array of the
    next level's elements. Null filtering must precede every ``flatten``
    — ``flatten`` returns NULL when ANY element is NULL, which would
    silently drop the whole row from every elementwise lane."""
    for k, mid in enumerate(mids):
        if k == 0:
            # first level: native GetArrayStructFields dot-chain
            col = _getfields(col, mid)
        else:
            col = F.transform(col, _getfields_fn(mid))
        col = F.flatten(F.filter(col, lambda a: a.isNotNull()))
    return col


def _getfields_fn(dotted: str):
    """Closure factory for HOF lambdas (a bare ``lambda t: _getfields(t,
    mid)`` would capture the loop variable by reference — and pyspark
    introspects lambda arity, so default-arg capture is unsafe too)."""
    return lambda t: _getfields(t, dotted)


def _leaf_column(name: str) -> Column:
    """Physical leaf-array column for a (possibly repeated) element path.

    ``a[*].b.c`` stays a plain ``F.col("a.b.c")`` (native
    GetArrayStructFields chain, codegen). Each additional ``[*]`` level
    (``a[*].b[*].c``, ``a[*].b[*].c[*].d``, …) adds one null-guarded
    ``flatten``: array extraction below the first level yields
    ``array<array<…>>``, which dot access cannot descend."""
    if name.count("[*]") <= 1:
        return F.col(_spark_path(name))
    segs = _star_segments(name)
    col = _flatten_levels(F.col(segs[0]), segs[1:-1])
    return _getfields(col, segs[-1])


def _nested_indexed(name: str) -> Column:
    """Composite-index element view of a repeated path (``a[*].b[*].c``,
    deeper): ``array<struct{i, j, v}>`` where ``i`` is the OUTERMOST array
    index, ``j`` the element's ordinal within the flattened remainder
    under ``i`` (for two-level paths: the inner-array index), ``v`` the
    (native-typed) leaf — the analog of the reference's arbitrary-depth
    repeated-element navigation (``FhirPathRuleEngine.cs:648-723``).
    ``(i, j)`` uniquely locates an element within its row at any depth.
    Null inner arrays contribute no elements; outer indices are
    preserved."""
    segs = _star_segments(name)
    first, mids, post = segs[0], segs[1:-1], segs[-1]
    pairs = F.transform(
        F.col(first),
        lambda s, i: F.struct(
            i.alias("i"),
            _flatten_levels_struct(s, mids).alias("arr")))
    nonnull = F.filter(pairs, lambda p: p["arr"].isNotNull())
    return F.flatten(F.transform(
        nonnull,
        lambda p: F.transform(
            p["arr"],
            lambda t, j: F.struct(p["i"].cast("int").alias("i"),
                                  j.cast("int").alias("j"),
                                  _getfields(t, post).alias("v")))))


def _flatten_levels_struct(s: Column, mids: list[str]) -> Column:
    """Like :func:`_flatten_levels` but rooted at a single struct element
    ``s`` (inside a HOF lambda): returns the flattened array of the
    deepest level's elements under ``s``, or null if the first-level
    array is null."""
    col = _getfields(s, mids[0])
    for mid in mids[1:]:
        col = F.flatten(F.filter(
            F.transform(col, _getfields_fn(mid)),
            lambda a: a.isNotNull()))
    return col


def _smap(*pairs: tuple[str, Column | str]) -> Column:
    """Build a map<string,string> detail column from (key, value) pairs.
    The empty map is explicitly typed — a bare ``create_map()`` is
    map<void,void>, which breaks the dedup key's ``detail['value']``
    lookup when a rule set contains only detail-less rules."""
    args: list[Column] = []
    for k, v in pairs:
        args.append(F.lit(k))
        args.append(v.cast("string") if isinstance(v, Column) else F.lit(str(v)))
    if not args:
        return F.create_map().cast("map<string,string>")
    return F.create_map(*args)


def _require_numeric_bound(rule: RuleDefinition, name: str, value) -> None:
    """Bounds that reach `<`/`>` against numeric columns must be numeric at
    COMPILE time — under ANSI mode a string bound would compile fine and
    then fail the cast per-row at runtime, aborting the scan (the exact
    failure mode the never-abort contract forbids)."""
    if value is not None and (isinstance(value, bool)
                              or not isinstance(value, (int, float))):
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"params.{name} must be numeric, got {value!r}")


def _require_comparable_value(rule: RuleDefinition, leaf: DataType,
                              value, pname: str) -> None:
    """Literals compared against a column must match its type family at
    COMPILE time — under ANSI a mismatched literal coerces the column and
    fails per-row at runtime (never-abort contract)."""
    from pyspark.sql.types import BooleanType
    bad = None
    if isinstance(leaf, NumericType):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            bad = "numeric"
    elif isinstance(leaf, StringType):
        if not isinstance(value, str):
            bad = "string"
    elif isinstance(leaf, BooleanType):
        if not isinstance(value, bool):
            bad = "boolean"
    if bad:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"params.{pname} value {value!r} does not match the {bad} "
            f"column {rule.column!r} ({leaf.simpleString()})")


def _nonempty(col: Column, dtype: DataType) -> Column:
    """Value is present and non-empty (the reference's skip-empty contract
    for AllowedValues/Regex/FixedValue, ``FhirPathRuleEngine.cs:1184,1264``)."""
    if isinstance(dtype, StringType):
        return col.isNotNull() & (F.trim(col) != "")
    if isinstance(dtype, ArrayType):
        return col.isNotNull() & (F.size(col) > 0)
    return col.isNotNull()


def _bad_elements(col: Column, is_bad: Callable[[Column], Column],
                  max_examples: int,
                  has_bad: Column | None = None,
                  indexed: Column | None = None
                  ) -> tuple[Column, Column, Column, Column]:
    """(has_bad, bad_count, examples-as-json, bad_elements) over an array
    column.

    ``indexed`` (nested ``a[*].b[*].c`` paths): a pre-built
    ``array<struct{i, j, v}>`` from :func:`_nested_indexed` — the bad
    elements then carry the composite outer/inner index. Single-level
    paths derive their own ``(i, null, v)`` view, so the element struct
    type is uniform across a fused rule chunk.

    ``is_bad`` must be **null-aware** (never return SQL NULL for a null
    element): ``F.filter`` drops NULL predicate results, so a three-valued
    lambda silently loses null elements from bad_count/examples/elements
    while a null-retaining native ``has_bad`` (array_remove / array_except
    keep nulls) still fires — the violation would surface with
    contradictory detail (badCount=0) or, with perElement, disappear in
    the empty-elements fan-out.

    ``has_bad`` is the violation condition evaluated on EVERY row — callers
    pass a native-function equivalent (array_min/max, array_except,
    array_remove) where one exists, because Spark evaluates higher-order
    lambda functions interpreted per element (no codegen): measured ~2-4×
    slower than the native array ops on a 10^8-token scan, which at 10^12
    rows is the difference between one day and four.

    ``bad_count``/``examples`` keep element indices for the per-element error
    contract (``FhirPathRuleEngine.cs:446-478`` "one error per invalid array
    element", example cap = the reference's Take(3)) — they are referenced
    only inside the violation ``when(cond, struct(...))`` branch, so the
    interpreted transform/filter run only for the (rare) violating rows.
    """
    if has_bad is None:
        has_bad = F.exists(col, is_bad)
    if indexed is None:
        bad_count = F.size(F.filter(col, is_bad))
        indexed = F.transform(col, lambda x, i: F.struct(
            i.alias("i"), F.lit(None).cast("int").alias("j"),
            x.alias("v")))
        bad_raw = F.filter(indexed, lambda s: is_bad(s["v"]))
    else:
        bad_raw = F.filter(indexed, lambda s: is_bad(s["v"]))
        bad_count = F.size(bad_raw)
    # to_json drops null fields by default, so the single-level examples
    # JSON stays {"i":…,"v":…} — no j key unless the path is nested
    examples = F.to_json(F.slice(bad_raw, 1, max_examples))
    bad_elements = F.transform(bad_raw, lambda s: F.struct(
        s["i"].cast("int").alias("i"), s["j"].cast("int").alias("j"),
        s["v"].cast("string").alias("v")))
    return has_bad, bad_count, examples, bad_elements


def compile_ruleset(ruleset: RuleSet, schema: StructType,
                    config: EngineConfig | None = None,
                    dims: dict[str, DataFrame] | None = None) -> CompiledPlan:
    """Compile every rule or raise ``RuleConfigurationError`` (collect-none:
    configuration errors are author errors, not data errors — they fail the
    compile, matching ``FhirPathRuleEngineTests.cs:147-176``)."""
    config = config or EngineConfig()
    plan = CompiledPlan(ruleset=ruleset, config=config, schema=schema,
                        dims=dict(dims or {}))
    _field_type(schema, config.key_col,
                RuleDefinition(id="<engine>", type="<config>"))
    group_type = _field_type(schema, config.group_col,
                             RuleDefinition(id="<engine>", type="<config>"))

    from . import plans as dataset_plans  # local import to avoid cycle

    overrides = dict(config.severity_overrides)
    known = {r.id for r in ruleset.rules}
    for rid in overrides:
        if rid not in known:
            raise RuleConfigurationError(
                rid, ErrorCode.RULE_CONFIGURATION_ERROR,
                "severity override targets unknown rule id")

    for rule in ruleset.rules:
        downgraded_from: str | None = None
        if rule.type == "Enum":
            # Phase B: binding strength drives severity
            # (MapBindingStrengthToSeverity,
            # JsonNodeStructuralValidator.cs:534-545); an explicit
            # governance severity override below still wins
            rule = _apply_enum_binding(rule)
        if rule.id in overrides:
            new_sev = overrides[rule.id]
            if new_sev not in Severity.ALL:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"severity override {new_sev!r} not in {Severity.ALL}")
            # Contract rules are never severity-downgraded
            # (Models/RuleSet.cs:93-100); only Business rules may be
            if rule.validation_class == "Contract":
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    "Contract-class rules cannot be severity-downgraded")
            from dataclasses import replace
            if new_sev != rule.severity:
                downgraded_from = rule.severity
            rule = replace(rule, severity=new_sev)
        if (rule.type == "Enum" and not rule.params.get("values")
                and rule.params.get("valueSet")):
            # Phase B.2: the value set is declared but not resolvable to
            # values — emit ONE dataset-level skip notice instead of
            # guessing or refusing the run
            # (CreateEnumValidationSkippedError, :549-578). Placed AFTER
            # the override block (overrides apply to the notice and stay
            # validated) and behind the same column pre-flight as every
            # compiled rule — a typo'd column must still fail compile.
            _field_type(schema, rule.require_column(), rule)
            declared = rule.params.get("binding")
            capped = notice_cap(declared, rule.id)
            if capped is None:
                # the reference emits NO notice when no binding is
                # declared or the binding is 'example'
                # (JsonNodeStructuralValidator.cs:366-369)
                continue
            # skip-notice severity is CAPPED below the binding's own:
            # required→warning, everything else→info (:379) — a skipped
            # enum never fails a run; the binding-derived severity
            # applies only to actual INVALID_ENUM_VALUE rows. A
            # governance override may LOWER the notice further (with
            # downgrade provenance) but never raise it past the cap —
            # the reference's override model is downgrade-only
            # (Models/RuleSet.cs:93-100), and an 'error' override would
            # silently break the never-fails-a-run invariant while
            # mislabeling the upgrade as downgradedFrom (round-5 review)
            notice_sev, notice_downgraded = capped, None
            if rule.id in overrides:
                rank = {s: i for i, s in enumerate(Severity.ALL)}
                override = overrides[rule.id]
                if rank[override] > rank[capped]:   # strictly lower tier
                    notice_sev, notice_downgraded = override, capped
            plan.notices.append(
                _enum_skip_notice(rule, declared, notice_sev,
                                  notice_downgraded))
            continue
        stage = RULE_STAGES.get(rule.type)
        if stage is None:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"unknown rule type {rule.type!r}")
        # the pre-flight contract is total: ANY malformed parameter is a
        # RuleConfigurationError, never a raw ValueError/TypeError from an
        # int()/float() coercion deep in a rule builder
        try:
            if rule.type in DATASET_RULE_TYPES:
                if rule.scope.kind != "all":
                    # no dataset plan consults scope — a filter/first
                    # scope would be silently ignored and e.g. Unique
                    # would flag keys duplicated only across rows the
                    # author filtered out (round-5 review batch 10);
                    # rule.source is the supported dataset-rule filter
                    raise RuleConfigurationError(
                        rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                        f"{rule.type} is dataset-scoped and does not "
                        f"support instance scope {rule.scope.kind!r}; "
                        "use 'source' to restrict the group, or "
                        "pre-filter the input")
                dp = dataset_plans.build(rule, stage, plan)
                if downgraded_from is not None:
                    dp.execute = _with_downgrade_provenance(dp.execute,
                                                            downgraded_from)
                plan.dataset_plans.append(dp)
                continue

            scope = _scope_condition(rule, schema, config, plan)
            out = _compile_predicate(rule, schema, config)
        except RuleConfigurationError:
            raise
        except (ValueError, TypeError) as exc:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"invalid rule parameters: {exc}") from exc
        cond, detail = out[0], out[1]
        elements = out[2] if len(out) > 2 else None
        hof = out[3] if len(out) > 3 else False
        if (not hof and rule.scope.kind == "filter"
                and _HOF_NAMES_RE.search(rule.scope.condition or "")):
            # a filter-scope condition with a HOF poisons the shared
            # chunk exactly like a HOF rule condition (round-4 review)
            hof = True
        if downgraded_from is not None:
            # provenance of the governance downgrade rides the detail map —
            # the reference records the original severity on downgraded
            # errors (Models/ValidationError.cs:20-47)
            detail = F.map_concat(detail, F.create_map(
                F.lit("downgradedFrom"), F.lit(downgraded_from)))
        plan.predicates.append(PredicateEntry(
            rule=rule, condition=scope & cond, detail=detail, stage=stage,
            elements=elements, hof=hof))
    return plan


# FHIR binding strength → severity (MapBindingStrengthToSeverity,
# JsonNodeStructuralValidator.cs:534-545; fhirlab.net severity model)
BINDING_SEVERITY = {
    "required": Severity.ERROR,
    "extensible": Severity.WARNING,
    "preferred": Severity.INFO,
    "example": Severity.INFO,
}


def notice_cap(binding: str | None, rule_id: str = "?") -> str | None:
    """Severity of the ENUM_VALIDATION_SKIPPED notice for a declared
    binding — the SINGLE source of truth for the reference's cap
    (JsonNodeStructuralValidator.cs:366-379): ``None`` means the notice
    is suppressed entirely (missing or 'example' binding); otherwise
    required→warning, everything else→info. Compile, explain_rule,
    emitted_error_codes and governance review all consult this function
    (round-5 review batches 3-4: the rule was hand-duplicated in four
    call sites). An UNKNOWN binding raises the same
    RuleConfigurationError the compiler raises — the authoring surfaces
    must never describe an emission for an uncompilable rule."""
    if binding is None or binding == "example":
        return None
    if binding not in BINDING_SEVERITY:
        raise RuleConfigurationError(
            rule_id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"binding {binding!r} not in {sorted(BINDING_SEVERITY)}")
    return Severity.WARNING if binding == "required" else Severity.INFO


def _apply_enum_binding(rule: RuleDefinition) -> RuleDefinition:
    binding = rule.params.get("binding")
    if binding is None:
        return rule
    if binding not in BINDING_SEVERITY:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"binding {binding!r} not in {sorted(BINDING_SEVERITY)}")
    from dataclasses import replace
    return replace(rule, severity=BINDING_SEVERITY[binding])


def _enum_skip_notice(rule: RuleDefinition, binding: str, severity: str,
                      downgraded_from: str | None = None) -> dict:
    """One dataset-level violation row announcing that enum validation
    was skipped — detail keys exactly the reference's frozen schema
    (ValidationErrorDetailsValidator.ValidateEnumValidationSkipped).
    ``binding`` is the DECLARED strength (the caller suppresses the
    notice entirely for missing/'example' bindings, :366-369);
    ``severity`` is the capped notice severity (required→warning, else
    info, :379) or an explicit governance override of it."""
    detail = {"valueSet": str(rule.params["valueSet"]),
              "bindingStrength": binding,
              "reason": "valueSet not resolvable to values"}
    if downgraded_from is not None:
        detail["downgradedFrom"] = downgraded_from
    return {
        "doc_id": None, "rule_id": rule.id, "rule_type": "Enum",
        "error_code": ErrorCode.ENUM_VALIDATION_SKIPPED,
        "severity": severity, "source": "<dataset>",
        "column": rule.column,
        "detail": detail,
        "stage": Stage.STRUCTURE,
    }


def _with_downgrade_provenance(execute: Callable, downgraded_from: str
                               ) -> Callable:
    def wrapped(df: DataFrame, plan: "CompiledPlan") -> DataFrame:
        return execute(df, plan).withColumn(
            "detail", F.map_concat(F.col("detail"), F.create_map(
                F.lit("downgradedFrom"), F.lit(downgraded_from))))
    return wrapped


def _scope_condition(rule: RuleDefinition, schema: StructType,
                     config: EngineConfig, plan: CompiledPlan) -> Column:
    conds: list[Column] = []
    if rule.source != "*":
        conds.append(F.col(config.group_col) == F.lit(rule.source))
    if rule.scope.kind == "filter":
        conds.append(_safe_expr(rule, rule.scope.condition))
    elif rule.scope.kind == "first":
        # row_number()==1 per group — engine materializes `_rn` lazily
        # (ResourceSelector.cs:80-89 "first instance" re-expressed as a window)
        plan.needs_first_scope = True
        conds.append(F.col("_rn") == 1)
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _safe_expr(rule: RuleDefinition, expr: str) -> Column:
    """Parse a Spark SQL expression at compile time; parse failure is a
    configuration error (the rule-compile dry-run of SURVEY §3.3).

    ``F.expr`` defers parsing in pyspark 4.x, so when a session is active we
    force a parse through the SQL parser (driver-side, plan-only — the analog
    of the reference's FHIRPath compile probe, ``FhirPathController.cs:33``).
    """
    from pyspark.sql import SparkSession
    try:
        col = F.expr(expr)
        active = SparkSession.getActiveSession()
        if active is not None and hasattr(active, "_jsparkSession"):
            active._jsparkSession.sessionState().sqlParser().parseExpression(expr)
        return col
    except Exception as exc:  # ParseException and friends
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"cannot parse expression {expr!r}: {exc}") from exc


def _compile_predicate(rule: RuleDefinition, schema: StructType,
                       config: EngineConfig) -> tuple[Column, Column]:
    """Return (violation condition, detail map) for a per-row rule."""
    t = rule.type
    if t == "CustomExpr":
        if not rule.expr:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "CustomExpr requires 'expr'")
        # violation when the expression is not strictly true (null ⇒ violation),
        # matching "must return all-true non-empty" (FhirPathRuleEngine.cs:1714-1768).
        # NOTE: under ANSI mode a fallible sub-expression (1/0, cast('x' as
        # int)) errors at runtime and aborts the scan — authors of CustomExpr
        # rules should use the try_* function family (try_divide, try_cast,
        # try_add …) for arithmetic that can fail; the engine's own lanes
        # never emit fallible expressions.
        cond = ~F.coalesce(_safe_expr(rule, rule.expr), F.lit(False))
        # higher-order functions are CodegenFallback: left in the shared
        # chunk they would force EVERY co-chunked rule's scan filter out
        # of whole-stage codegen, so HOF-bearing expressions get the same
        # own-chunk treatment as the VectorCheck norm lane. Detection is
        # a conservative name scan — a false positive only costs a
        # separate (still fused) chunk.
        return (cond, _smap(("expression", rule.expr)), None,
                bool(_HOF_NAMES_RE.search(rule.expr)))

    if t == "ValueExclusivity":
        cols = rule.require_param("columns")
        if not isinstance(cols, list) or len(cols) < 2:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "ValueExclusivity requires params.columns (≥2 names)")
        for c in cols:
            if "[*]" in c:
                # the value[x] contract is over scalar/struct variants;
                # an element path would compile here but F.col("a[*].b")
                # cannot resolve at execution — reject at compile
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"ValueExclusivity columns must be scalar/struct "
                    f"paths, not element paths ({c!r})")
            _field_type(schema, c, rule)
        present = sum(F.col(c).isNotNull().cast("int") for c in cols)
        # >1 variant present, the value[x] contract (JsonNodeStructuralValidator.cs:858-941)
        return present > 1, _smap(("columns", json.dumps(cols)),
                                  ("presentCount", present))

    col_name = rule.require_column()
    dtype = _field_type(schema, col_name, rule)
    col = _leaf_column(col_name)
    # a[*].b element path: `col` is the natively-derived array of leaves
    # (flattened for nested a[*].b[*].c repetition); scalar rule families
    # switch to per-element lanes below (index-aware details,
    # FhirPathRuleEngine.cs:648-723 NavigateToPathInSourceNodeAll)
    elementwise = _is_element_path(col_name)
    indexed = (_nested_indexed(col_name)
               if elementwise and col_name.count("[*]") >= 2 else None)

    if t == "VectorCheck":
        # embedding-column conformance: dimension / finiteness lanes are
        # native array expressions (array_max NaN-propagation, array_compact
        # null probe) and fuse into the codegen scan; the optional L2-norm
        # lane needs an `aggregate` HOF (CodegenFallback), so the predicate
        # is flagged `hof` and the engine gives it its own fused chunk —
        # the other rules' shared scan stays in whole-stage codegen.
        if elementwise:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "VectorCheck takes a plain array column, not an element "
                "path")
        if not isinstance(dtype, ArrayType) \
                or not isinstance(dtype.elementType, NumericType):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"VectorCheck needs an array<numeric> column; "
                f"{col_name!r} is {dtype.simpleString()}")
        dim = rule.params.get("dim")
        require_finite = bool(rule.params.get("requireFinite", True))
        norm_min = rule.params.get("normMin")
        norm_max = rule.params.get("normMax")
        for name, v in (("dim", dim), ("normMin", norm_min),
                        ("normMax", norm_max)):
            if v is not None:
                try:
                    float(v)
                except (TypeError, ValueError) as exc:
                    raise RuleConfigurationError(
                        rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                        f"params.{name} must be numeric: {exc}") from exc
        if dim is None and not require_finite and norm_min is None \
                and norm_max is None:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "VectorCheck needs at least one of params.dim / "
                "requireFinite / normMin / normMax")
        sz = F.size(col)
        lanes: list[tuple[str, Column]] = []
        if dim is not None:
            lanes.append(("dim", sz != F.lit(int(dim))))
        if require_finite:
            mx = F.array_max(col).cast("double")
            mn = F.array_min(col).cast("double")
            # NaN sorts greatest in Spark, so array_max propagates it; ±Inf
            # compare by plain float equality; null ELEMENTS surface as a
            # compacted-size mismatch. All native — no HOF in this lane.
            lanes.append(("finite", F.coalesce(
                F.isnan(mx) | (mx == F.lit(float("inf")))
                | (mn == F.lit(float("-inf")))
                | (sz != F.size(F.array_compact(col))),
                F.lit(False))))
        norm: Column | None = None
        hof = False
        if norm_min is not None or norm_max is not None:
            hof = True
            norm = F.sqrt(F.aggregate(
                F.array_compact(col), F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double")))
            bad_norm = F.lit(False)
            if norm_min is not None:
                bad_norm = bad_norm | (norm < F.lit(float(norm_min)))
            if norm_max is not None:
                bad_norm = bad_norm | (norm > F.lit(float(norm_max)))
            lanes.append(("norm", bad_norm))
        any_bad = lanes[0][1]
        for _, c in lanes[1:]:
            any_bad = any_bad | c
        cond = col.isNotNull() & any_bad
        check = F.lit(None).cast("string")
        for name, c in reversed(lanes):
            check = F.when(c, F.lit(name)).otherwise(check)
        pairs: list[tuple[str, Column | str]] = [("check", check),
                                                 ("size", sz)]
        if dim is not None:
            pairs.append(("dim", str(int(dim))))
        if norm is not None:
            pairs.append(("norm", F.round(norm, 6)))
        return cond, _smap(*pairs), None, hof

    if t == "Required":
        if elementwise:
            # every element must carry the leaf (null/whitespace = missing);
            # an empty outer array is vacuously fine — Required on the array
            # itself covers that
            leaf = dtype.elementType if isinstance(dtype, ArrayType) else dtype
            is_str = isinstance(leaf, StringType)
            is_bad = (lambda v: v.isNull() | (F.trim(v) == "")) if is_str \
                else (lambda v: v.isNull())
            has_bad, bad_count, examples, bad_els = _bad_elements(
                col, is_bad, config.max_examples,
                has_bad=F.exists(col, is_bad), indexed=indexed)
            cond = col.isNotNull() & has_bad
            # exists() is a CodegenFallback HOF in the scan filter — own
            # chunk, like the VectorCheck norm lane (round-4 review fix)
            return (cond, _smap(("badCount", bad_count),
                                ("examples", examples)),
                    bad_els if rule.params.get("perElement") else None,
                    True)
        # missing OR all-empty (FhirPathRuleEngine.cs:971-1033:
        # empty string / whitespace counts as missing)
        return ~_nonempty(col, dtype), _smap()

    if t == "FixedValue":
        expected = rule.require_param("value")
        _require_comparable_value(
            rule, dtype.elementType if isinstance(dtype, ArrayType)
            else dtype, expected, "value")
        if isinstance(dtype, ArrayType):
            # native path: any element ≠ expected ⇔ something survives
            # array_remove(col, expected). array_remove retains null
            # elements, so the lambda must treat null as bad too (a null
            # element is not the expected value).
            has_bad, bad_count, examples, bad_els = _bad_elements(
                col, lambda v: v.isNull() | (v != F.lit(expected)),
                config.max_examples,
                has_bad=F.size(F.array_remove(col, expected)) > 0,
                indexed=indexed)
            cond = _nonempty(col, dtype) & has_bad
            return (cond,
                    _smap(("expected", expected), ("badCount", bad_count),
                          ("examples", examples)),
                    bad_els if rule.params.get("perElement") else None)
        cond = _nonempty(col, dtype) & (col != F.lit(expected))
        return cond, _smap(("expected", expected), ("actual", col))

    if t in ("AllowedValues", "Enum"):
        values = rule.require_param("values")
        if not isinstance(values, list) or not values:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"{t} requires non-empty params.values")
        leaf_av = (dtype.elementType if isinstance(dtype, ArrayType)
                   else dtype)
        for v in values:
            _require_comparable_value(rule, leaf_av, v, "values")
        allowed = json.dumps(values)
        if isinstance(dtype, ArrayType):
            lit_vals = F.array(*[F.lit(v) for v in values])
            # native path: set-difference non-empty ⇔ some element ∉ values.
            # array_except retains a null element (null ∉ values), so the
            # lambda marks null as bad to keep both lanes aligned.
            has_bad, bad_count, examples, bad_els = _bad_elements(
                col, lambda v: v.isNull() | ~F.array_contains(lit_vals, v),
                config.max_examples,
                has_bad=F.size(F.array_except(col, lit_vals)) > 0,
                indexed=indexed)
            cond = _nonempty(col, dtype) & has_bad
            return (cond,
                    _smap(("allowed", allowed), ("badCount", bad_count),
                          ("examples", examples)),
                    bad_els if rule.params.get("perElement") else None)
        cond = _nonempty(col, dtype) & ~col.isin(values)
        return cond, _smap(("actual", col), ("allowed", allowed))

    if t == "Regex":
        pattern = rule.require_pattern()
        if elementwise:
            # no native array regex exists — the exists() probe is the one
            # interpreted subexpression in the scan; details stay lazy
            is_bad = (lambda v: v.isNotNull() & (F.trim(v) != "")
                      & ~v.cast("string").rlike(pattern))
            has_bad, bad_count, examples, bad_els = _bad_elements(
                col, is_bad, config.max_examples,
                has_bad=F.exists(col, is_bad), indexed=indexed)
            cond = _nonempty(col, dtype) & has_bad
            return (cond,
                    _smap(("pattern", pattern), ("badCount", bad_count),
                          ("examples", examples)),
                    bad_els if rule.params.get("perElement") else None,
                    True)   # exists() HOF — own chunk
        cond = _nonempty(col, dtype) & ~col.cast("string").rlike(pattern)
        return cond, _smap(("pattern", pattern), ("actual", col))

    if t == "ArrayLength":
        lo, hi = rule.params.get("min"), rule.params.get("max")
        if lo is None and hi is None:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "ArrayLength requires params.min and/or params.max")
        if not isinstance(dtype, ArrayType):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"ArrayLength column {col_name!r} is {dtype.simpleString()}, not array")
        _require_numeric_bound(rule, "min", lo)
        _require_numeric_bound(rule, "max", hi)
        size = F.size(col)
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (size < lo)
        if hi is not None:
            cond = cond | (size > hi)
        cond = col.isNotNull() & cond
        return cond, _smap(("min", "" if lo is None else lo),
                           ("max", "" if hi is None else hi), ("actual", size))

    if t == "TokenDomain":
        lo = rule.require_param("min")
        hi = rule.require_param("maxExclusive")
        _require_numeric_bound(rule, "min", lo)
        _require_numeric_bound(rule, "maxExclusive", hi)
        if not isinstance(dtype, ArrayType):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"TokenDomain column {col_name!r} is {dtype.simpleString()}, not array")
        # native path: domain is an interval, so min/max bound all elements
        has_bad, bad_count, examples, bad_els = _bad_elements(
            col, lambda v: (v < F.lit(lo)) | (v >= F.lit(hi)),
            config.max_examples,
            has_bad=(F.array_min(col) < F.lit(lo))
                    | (F.array_max(col) >= F.lit(hi)),
            indexed=indexed)
        cond = _nonempty(col, dtype) & has_bad
        return (cond,
                _smap(("min", lo), ("maxExclusive", hi),
                      ("badCount", bad_count), ("examples", examples)),
                bad_els if rule.params.get("perElement") else None)

    if t == "JsonPath":
        # Semi-structured validation over a JSON string or VARIANT column —
        # the Spark-native analog of the reference's FHIRPath probe
        # (Api/FhirPathController.cs entry point 3.3) and its node-level
        # structural checks (JsonNodeStructuralValidator.cs): evaluate a
        # JSON path against each row's payload WITHOUT a pre-declared
        # schema and assert exists / equals / range / regex / inValues on
        # the extracted value.
        #
        # Execution is Spark 4 VARIANT: `try_parse_json` once per row (a
        # no-op when the column is already VARIANT — parse upstream to
        # amortize across many JsonPath rules), `try_variant_get` per rule.
        # Both are native Catalyst expressions — binary variant access, no
        # per-row Python, no schema inference pass over the corpus (the
        # 100-TB reason to use VARIANT instead of from_json: no blocking
        # schema discovery job, no widest-schema memory blowup).
        # Malformed JSON is its own lane (never aborts the scan — S2
        # strict→lenient contract); a JSON null extracts as SQL null and
        # counts as missing, matching the reference's "present and
        # non-null" element test.
        path = str(rule.require_param("path"))
        if not path.startswith("$"):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"params.path must be a JSON path starting with '$', "
                f"got {path!r}")
        op = rule.params.get("op", "exists")
        as_type = rule.params.get("asType", "string")
        if as_type not in ("string", "long", "double", "boolean"):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"params.asType {as_type!r} not in "
                "('string', 'long', 'double', 'boolean')")
        if elementwise:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "JsonPath takes a plain column, not an element path — "
                "address array elements inside params.path instead "
                "($.a[0].b)")
        if isinstance(dtype, VariantType):
            v = col
        elif isinstance(dtype, StringType):
            v = F.try_parse_json(col)
        else:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"JsonPath column {col_name!r} is {dtype.simpleString()}; "
                "need a JSON string or variant column")
        got = F.try_variant_get(v, path, as_type)
        malformed = v.isNull() if isinstance(dtype, StringType) \
            else F.lit(False)
        pairs: list[tuple[str, Column | str]] = [("path", path), ("op", op)]
        _OK_VALUES = {"string": str, "long": int, "double": (int, float),
                      "boolean": bool}
        if op == "exists":
            bad = got.isNull()
        elif op == "equals":
            expected = rule.require_param("value")
            if isinstance(expected, bool) != (as_type == "boolean") \
                    or not isinstance(expected, _OK_VALUES[as_type]):
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"params.value {expected!r} does not match "
                    f"asType {as_type!r}")
            bad = got.isNull() | (got != F.lit(expected))
            pairs.append(("expected", expected))
        elif op == "range":
            lo, hi = rule.params.get("min"), rule.params.get("max")
            if lo is None and hi is None:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    "JsonPath op 'range' needs params.min and/or params.max")
            if as_type == "string":
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    "JsonPath op 'range' needs a numeric asType "
                    "(long | double)")
            for nm, b in (("min", lo), ("max", hi)):
                if b is not None:
                    _require_numeric_bound(rule, nm, b)
            bad = got.isNull()
            if lo is not None:
                bad = bad | (got < F.lit(lo))
            if hi is not None:
                bad = bad | (got > F.lit(hi))
            pairs += [("min", "" if lo is None else lo),
                      ("max", "" if hi is None else hi)]
        elif op == "regex":
            pattern = rule.require_pattern()
            bad = got.isNull() | ~got.cast("string").rlike(pattern)
            pairs.append(("pattern", pattern))
        elif op == "inValues":
            values = rule.require_param("values")
            if not isinstance(values, list) or not values:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    "JsonPath op 'inValues' needs non-empty params.values")
            # each value must match asType, like op 'equals': a mismatch
            # would ANSI-abort the scan casting the literals (or, off
            # ANSI, null-cast and silently validate nothing)
            for ev in values:
                if isinstance(ev, bool) != (as_type == "boolean") \
                        or not isinstance(ev, _OK_VALUES[as_type]):
                    raise RuleConfigurationError(
                        rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                        f"params.values entry {ev!r} does not match "
                        f"asType {as_type!r}")
            bad = got.isNull() | ~got.isin(values)
            pairs.append(("allowed", json.dumps(values)))
        else:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"unknown JsonPath op {op!r} (exists | equals | range | "
                "regex | inValues)")
        # lane provenance: malformed JSON ≻ path-missing (incl. JSON null —
        # "present and non-null") ≻ the op's own comparison failing
        lane = (F.when(malformed, F.lit("malformed"))
                 .when(got.isNull(), F.lit("missing"))
                 .otherwise(F.lit(op)))
        pairs = [("check", lane), ("actual", got)] + pairs
        cond = col.isNotNull() & (malformed | bad)
        return cond, _smap(*pairs)

    if t == "SequenceShape":
        # Token-sequence structural markers (the payload-native STRUCTURE
        # lane a pre-tokenized training table needs): BOS at position 0,
        # EOS at the end, pad tokens only as a trailing run. The reference's
        # closest analog is value[x]/cardinality shape checking
        # (JsonNodeStructuralValidator.cs:858-941) — here the "shape" is
        # the sequence framing a dataloader assumes.
        #
        # Every lane is a native codegen expression: F.get() is the
        # 0-based, never-ANSI-aborting positional probe (element_at would
        # throw on an empty array under ANSI), and the trailing-run check
        # compares slice(col, p..) against array_repeat(pad) — array
        # equality instead of an exists() HOF, so the predicate fuses into
        # the shared whole-stage-codegen scan with the other rules.
        if elementwise:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "SequenceShape takes a plain array column, not an element "
                "path")
        if not isinstance(dtype, ArrayType) \
                or not isinstance(dtype.elementType, IntegralType):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"SequenceShape needs an array<integral> column; "
                f"{col_name!r} is {dtype.simpleString()}")
        bos = rule.params.get("bos")
        eos = rule.params.get("eos")
        pad = rule.params.get("pad")
        for nm, v in (("bos", bos), ("eos", eos), ("pad", pad)):
            if v is not None and (isinstance(v, bool)
                                  or not isinstance(v, int)):
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"params.{nm} must be an integer token id, got {v!r}")
        if bos is None and eos is None and pad is None:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "SequenceShape needs at least one of params.bos / eos / pad")
        elem_t = dtype.elementType
        sz = F.size(col)
        lanes: list[tuple[str, Column]] = []
        first = F.get(col, 0)
        pad_pos: Column | None = None
        if pad is not None:
            # 1-based index of the FIRST pad (0 = no pad anywhere)
            pad_pos = F.array_position(col, F.lit(pad).cast(elem_t))
        if bos is not None:
            # an empty sequence cannot carry its BOS marker → violation
            lanes.append(("bos",
                          first.isNull() | (first != F.lit(bos))))
        # EOS must close the CONTENT: the last non-pad position when a pad
        # run exists (a padded sequence ends ... eos pad pad), else the
        # literal last element. An all-pad sequence has no content slot at
        # all → the probe indexes -1 → null → violation.
        last = (F.get(col, F.when(pad_pos > 0, pad_pos - 1)
                           .otherwise(sz).cast("int") - 1)
                if pad is not None else F.get(col, sz - 1))
        if eos is not None:
            lanes.append(("eos",
                          last.isNull() | (last != F.lit(eos))))
        if pad is not None:
            # the sequence is well-formed iff everything from the first pad
            # on is pad — i.e. the tail slice equals a pad-filled array of
            # the same length. Interior pads break the equality.
            # start clamps to 1 for the no-pad rows: slice(col, 0, …) is a
            # runtime error, and the (pad_pos > 0) guard only short-circuits
            # inside codegen — a Catalyst reorder must not be able to
            # evaluate the unclamped branch.
            start = F.greatest(pad_pos, F.lit(1).cast("long"))
            tail_len = (sz - start + 1).cast("int")
            tail = F.slice(col, start.cast("int"), tail_len)
            run = F.array_repeat(F.lit(pad).cast(elem_t), tail_len)
            lanes.append(("pad", F.coalesce(
                (pad_pos > 0) & (tail != run), F.lit(False))))
        any_bad = lanes[0][1]
        for _, c in lanes[1:]:
            any_bad = any_bad | c
        cond = col.isNotNull() & any_bad
        check = F.lit(None).cast("string")
        for name, c in reversed(lanes):
            check = F.when(c, F.lit(name)).otherwise(check)
        pairs: list[tuple[str, Column | str]] = [("check", check),
                                                 ("size", sz)]
        if bos is not None:
            pairs += [("bos", str(bos)), ("first", first)]
        if eos is not None:
            pairs += [("eos", str(eos)), ("last", last)]
        if pad is not None:
            pairs += [("pad", str(pad)), ("padStart", pad_pos)]
        return cond, _smap(*pairs)

    if t == "Range":
        lo, hi = rule.params.get("min"), rule.params.get("max")
        if lo is None and hi is None:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "Range requires params.min and/or params.max")
        leaf_t = dtype.elementType if isinstance(dtype, ArrayType) else dtype
        numeric_bounds = any(not isinstance(b, bool)
                             and isinstance(b, (int, float))
                             for b in (lo, hi) if b is not None)
        string_bounds = any(isinstance(b, str)
                            for b in (lo, hi) if b is not None)
        for nm, b in (("min", lo), ("max", hi)):
            # bool/list/dict bounds are never lawful on ANY column type —
            # they'd abort the scan (ANSI cast) or fail literal conversion
            if b is not None and not isinstance(b, str) and (
                    isinstance(b, bool) or not isinstance(b, (int, float))):
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"params.{nm} must be numeric or string, got {b!r}")
        if numeric_bounds and string_bounds:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "params.min/max mix numeric and string bounds")
        if isinstance(leaf_t, NumericType):
            # string bounds on numeric columns would fail the ANSI cast
            # per-row at runtime
            _require_numeric_bound(rule, "min", lo)
            _require_numeric_bound(rule, "max", hi)
        # numeric range over a string-typed answer column (the
        # questions-dim pattern): compare through try_cast so a non-numeric
        # value yields NULL — no violation from Range (TypeCheck's lane
        # flags it) and, crucially, no per-row ANSI abort from implicit
        # column coercion. String bounds keep the lexicographic comparison
        # (e.g. ISO-date ranges).
        str_numeric = isinstance(leaf_t, StringType) and numeric_bounds
        display_col = col  # detail 'actual' reports the RAW stored value
        if str_numeric and not elementwise:
            col = col.try_cast("double")
        if elementwise:
            conv = ((lambda v: v.try_cast("double")) if str_numeric
                    else (lambda v: v))

            def _bad(v):
                cv = conv(v)
                c = F.lit(False)
                if lo is not None:
                    c = c | (cv < F.lit(lo))
                if hi is not None:
                    c = c | (cv > F.lit(hi))
                return cv.isNotNull() & c
            if str_numeric:
                # lexicographic array_min/max would be wrong for numeric
                # bounds — the exists() probe is the full-scan check here
                native = F.exists(col, _bad)
            else:
                native = F.lit(False)
                if lo is not None:
                    native = native | (F.array_min(col) < F.lit(lo))
                if hi is not None:
                    native = native | (F.array_max(col) > F.lit(hi))
            has_bad, bad_count, examples, bad_els = _bad_elements(
                col, _bad, config.max_examples, has_bad=native, indexed=indexed)
            cond = _nonempty(col, dtype) & has_bad
            return (cond,
                    _smap(("min", "" if lo is None else lo),
                          ("max", "" if hi is None else hi),
                          ("badCount", bad_count), ("examples", examples)),
                    bad_els if rule.params.get("perElement") else None,
                    bool(str_numeric))  # exists probe only on str-numeric
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (col < lo)
        if hi is not None:
            cond = cond | (col > hi)
        cond = col.isNotNull() & cond
        return cond, _smap(("min", "" if lo is None else lo),
                           ("max", "" if hi is None else hi),
                           ("actual", display_col))

    if t == "MaxLength":
        max_len = int(rule.require_param("maxLength"))
        if elementwise:
            is_bad = (lambda v: v.isNotNull()
                      & (F.length(v.cast("string")) > max_len))
            has_bad, bad_count, examples, bad_els = _bad_elements(
                col, is_bad, config.max_examples,
                has_bad=F.exists(col, is_bad), indexed=indexed)
            cond = col.isNotNull() & has_bad
            return (cond,
                    _smap(("maxLength", max_len), ("badCount", bad_count),
                          ("examples", examples)),
                    bad_els if rule.params.get("perElement") else None,
                    True)   # exists() HOF — own chunk
        cond = col.isNotNull() & (F.length(col.cast("string")) > max_len)
        return cond, _smap(("maxLength", max_len),
                           ("actual", F.length(col.cast("string"))))

    if t == "Precision":
        digits = int(rule.require_param("precision"))
        if isinstance(dtype, NumericType):
            cond = col.isNotNull() & (F.round(col, digits) != col)
            return cond, _smap(("precision", digits), ("actual", col))
        if isinstance(dtype, StringType):
            # the questions-dim pattern, same as the Range lane: string
            # answer columns try_cast — unparseable strings are the TYPE
            # lane's finding, not a precision violation (round-5 review
            # batch 10: a precision constraint on a string answer column
            # could never compile)
            cast = F.trim(col).try_cast("double")
            cond = (col.isNotNull() & cast.isNotNull()
                    & (F.round(cast, digits) != cast))
            return cond, _smap(("precision", digits), ("actual", col))
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"Precision column {col_name!r} is not numeric")

    if t == "TypeCheck":
        target = rule.require_param("dataType")
        if elementwise:
            try:
                F.lit("probe").try_cast(target)  # validate the type name
            except Exception as exc:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"bad dataType {target!r}: {exc}") from exc
            is_bad = (lambda v: v.isNotNull() & (F.trim(v.cast("string")) != "")
                      & v.cast("string").try_cast(target).isNull())
            has_bad, bad_count, examples, bad_els = _bad_elements(
                col, is_bad, config.max_examples,
                has_bad=F.exists(col, is_bad), indexed=indexed)
            cond = _nonempty(col, dtype) & has_bad
            return (cond,
                    _smap(("dataType", target), ("badCount", bad_count),
                          ("examples", examples)),
                    bad_els if rule.params.get("perElement") else None,
                    True)   # exists() HOF — own chunk
        try:
            casted = col.cast("string").try_cast(target)
        except Exception as exc:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"bad dataType {target!r}: {exc}") from exc
        cond = _nonempty(col, dtype) & casted.isNull()
        return cond, _smap(("dataType", target), ("actual", col))

    raise RuleConfigurationError(
        rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
        f"unknown rule type {t!r}")
