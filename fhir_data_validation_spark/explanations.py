"""Structured rule/violation explanations (authoring surface).

The reference's ``Authoring/ValidationExplanationService.cs:1-361``
generates template-based ``{What, How, Confidence}`` explanations for
rule types and issues — rule-based, deterministic, no intent-guessing,
confidence-scoped (high for spec-deterministic checks, medium for
regex/code-system, low for custom conditions).  This module is that
service re-keyed to this engine's rule model, extended to every rule
family the engine has (the reference's registry stops at its seven
project-rule templates; the drift/stats/dataset families get templates
of their own), and with a ``scale_notes`` field describing the
distributed plan shape — the information a 100-TB operator needs that a
single-process validator never had to explain.

Driver-side only: no Spark session, no jobs.
"""

from __future__ import annotations

from typing import Any, Mapping

from .errors import Stage
from .model import RuleDefinition

_CONFIDENCE = {
    # reference: FHIR structural/reference = high, regex + code system =
    # medium, custom conditions = low (:155-360)
    "Required": "high", "FixedValue": "high", "AllowedValues": "high",
    "Enum": "high", "ArrayLength": "high", "TokenDomain": "high",
    "Range": "high", "MaxLength": "high", "Precision": "high",
    "TypeCheck": "high", "ValueExclusivity": "high", "Unique": "high",
    "Reference": "high", "RequiredResources": "high",
    "SequenceShape": "high", "VectorCheck": "high",
    "Regex": "medium", "CodeSystem": "medium", "Membership": "medium",
    "CodeMaster": "medium", "JsonPath": "medium",
    "AggConsistency": "medium", "GroupShare": "medium",
    "DistinctBand": "medium", "Monotonic": "medium",
    "FunctionalDependency": "medium", "HeavyHitters": "medium",
    "Expectation": "medium", "Drift": "medium", "Outlier": "medium",
    "CustomExpr": "low",
}

# one line per family on the physical plan it compiles to — why the rule
# stays cheap at 10^12 rows
_SCALE_NOTES = {
    "Required": "fused into the single whole-stage-codegen scan",
    "FixedValue": "fused into the single whole-stage-codegen scan",
    "AllowedValues": "fused into the single whole-stage-codegen scan",
    "Enum": "fused into the single whole-stage-codegen scan",
    "Regex": "fused into the single whole-stage-codegen scan",
    "ArrayLength": "fused into the single whole-stage-codegen scan",
    "TokenDomain": "fused into the single whole-stage-codegen scan",
    "Range": "fused into the single whole-stage-codegen scan",
    "MaxLength": "fused into the single whole-stage-codegen scan",
    "Precision": "fused into the single whole-stage-codegen scan",
    "TypeCheck": "fused into the single whole-stage-codegen scan",
    "CustomExpr": "fused into the single whole-stage-codegen scan",
    "ValueExclusivity": "fused into the single whole-stage-codegen scan",
    "SequenceShape": "fused into the single whole-stage-codegen scan",
    "JsonPath": "variant probes fused into the scan; HOF lanes isolated "
                "so the main filter stays codegen",
    "VectorCheck": "dim/finite lanes codegen; norm lane chunked apart so "
                   "the shared scan filter stays codegen",
    "Unique": "two-stage salted count per key; shuffle carries reduced "
              "(key, count) pairs, never rows",
    "Reference": "broadcast (or bloom-prefiltered) anti-join against the "
                 "key index; fact side never shuffles",
    "Membership": "broadcast semi-join against the dim",
    "CodeSystem": "broadcast join on (system, code) pairs",
    "CodeMaster": "two-level broadcast join keyed by (screening, question)",
    "RequiredResources": "one map-side-combined groupBy over (group, "
                         "source) counts",
    "Expectation": "single aggregation pass; one row per dataset/group",
    "Outlier": "per-group fences from one aggregation, broadcast back",
    "AggConsistency": "child side aggregates once, then broadcast/SMJ "
                      "join — no parent-side pre-shuffle",
    "GroupShare": "computed on the reduced per-group counts frame",
    "DistinctBand": "partial distinct aggregation per group",
    "Monotonic": "single window pass ordered within each key",
    "FunctionalDependency": "map-side partial min/max/count per "
                            "determinant group",
    "HeavyHitters": "distributed Misra-Gries partials, bounded shuffle",
    "Drift": "histogram partials merge map-side; the statistics fold "
             "sees only reduced buckets",
}


def _fmt(v: Any) -> str:
    return ", ".join(str(x) for x in v) if isinstance(v, list) else str(v)


def _checks(rule: RuleDefinition) -> list[str]:
    """Concrete, param-aware statements of what the compiled rule tests —
    the reference's How-template bullet lines (:190-360), one entry per
    predicate the family applies."""
    t, p = rule.type, rule.params
    col = rule.column or "<dataset>"
    out: list[str] = []
    if t == "Required":
        out.append(f"`{col}` must be present and non-empty")
    elif t == "FixedValue":
        out.append(f"`{col}` must equal {p.get('value')!r}")
    elif t in ("AllowedValues", "Enum"):
        if t == "Enum" and not p.get("values") and p.get("valueSet"):
            from .compiler import notice_cap
            b = p.get("binding")
            cap = notice_cap(b)
            if cap is None:
                out.append(f"valueSet {p['valueSet']!r} is not resolvable "
                           f"to values and the binding is "
                           f"{'missing' if b is None else 'example'} — "
                           f"the run emits nothing for this rule (skip "
                           f"notices are suppressed)")
            else:
                out.append(f"valueSet {p['valueSet']!r} is not resolvable "
                           f"to values — the run emits one "
                           f"ENUM_VALIDATION_SKIPPED notice (severity "
                           f"capped at {cap}) "
                           f"instead of enforcing the binding")
        else:
            out.append(f"`{col}` must be one of: "
                       f"{_fmt(p.get('values', []))}")
        # the binding-sets-severity line applies ONLY to enforced enums:
        # a skip lane emits no violations and the notice severity comes
        # from the cap, not the binding (round-5 review batch 6)
        if (t == "Enum" and p.get("binding")
                and (p.get("values") or not p.get("valueSet"))):
            out.append(f"binding strength {p['binding']!r} sets the "
                       f"violation severity")
    elif t == "Regex":
        out.append(f"`{col}` must match pattern {p.get('pattern')!r}")
    elif t == "ArrayLength":
        if p.get("min") is not None:
            out.append(f"`{col}` must contain at least {p['min']} items")
        if p.get("max") is not None:
            out.append(f"`{col}` must contain at most {p['max']} items")
    elif t == "TokenDomain":
        out.append(f"every element of `{col}` must lie in "
                   f"[{p.get('min')}, {p.get('maxExclusive')})")
    elif t == "Range":
        if p.get("min") is not None:
            out.append(f"`{col}` must be ≥ {p['min']}")
        if p.get("max") is not None:
            out.append(f"`{col}` must be ≤ {p['max']}")
        if p.get("maxExclusive") is not None:
            out.append(f"`{col}` must be < {p['maxExclusive']}")
    elif t == "MaxLength":
        out.append(f"`{col}` must be at most {p.get('maxLength')} "
                   f"characters long")
    elif t == "Precision":
        out.append(f"`{col}` must carry at most {p.get('precision')} "
                   f"decimal digits")
    elif t == "TypeCheck":
        out.append(f"`{col}` must parse as {p.get('dataType')}")
    elif t == "CustomExpr":
        out.append(f"expression must hold: {rule.expr or p.get('expr')}")
    elif t == "ValueExclusivity":
        out.append(f"at most one of {_fmt(p.get('columns', []))} may be "
                   f"present")
    elif t == "Unique":
        cols = p.get("columns") or [col]
        out.append(f"({_fmt(cols)}) must be unique across the dataset")
    elif t == "Reference":
        out.append(f"`{col}` must resolve against dim "
                   f"{p.get('dim')!r} on {p.get('on')!r}")
        if p.get("expectedTypes"):
            out.append(f"the resolved target's type must be one of: "
                       f"{_fmt(p['expectedTypes'])}")
    elif t == "Membership":
        out.append(f"`{col}` must appear in dim {p.get('dim')!r} "
                   f"column {p.get('on')!r}")
    elif t == "CodeSystem":
        out.append(f"`{p.get('systemColumn')}` must equal "
                   f"{p.get('system')!r}")
        out.append(f"(`{p.get('systemColumn')}`, `{col}`) must appear in "
                   f"dim {p.get('dim')!r}")
    elif t == "CodeMaster":
        out.append(f"`{p.get('keyColumn')}` must be a known question key "
                   f"in dim {p.get('dim')!r}")
        out.append(f"`{col}` must be among the question's allowed answers")
        out.append("multiplicity must respect the question's "
                   "multi-value flag")
        if p.get("screeningColumn"):
            out.append(f"`{p['screeningColumn']}` must be a known "
                       f"screening type")
    elif t == "RequiredResources":
        for req in p.get("requirements", []):
            parts = []
            if req.get("min") is not None:
                parts.append(f"≥ {req['min']}")
            if req.get("max") is not None:
                parts.append(f"≤ {req['max']}")
            out.append(f"each group must carry {' and '.join(parts) or '≥ 1'}"
                       f" rows of source {req.get('source')!r}")
    elif t == "SequenceShape":
        for key, label in (("bos", "begin with token"),
                           ("eos", "end with token"),
                           ("pad", "pad only with token")):
            if p.get(key) is not None:
                out.append(f"`{col}` must {label} {p[key]}")
    elif t == "JsonPath":
        out.append(f"JSON probe {p.get('path')!r} over `{col}`"
                   + (" must be present" if p.get("required") else ""))
        if p.get("equals") is not None:
            out.append(f"probed value must equal {p['equals']!r}")
    elif t == "VectorCheck":
        if p.get("dim") is not None:
            out.append(f"`{col}` must have exactly {p['dim']} components")
        if p.get("finite"):
            out.append(f"every component of `{col}` must be finite")
        if p.get("normMin") is not None or p.get("normMax") is not None:
            out.append(f"L2 norm of `{col}` must lie in "
                       f"[{p.get('normMin')}, {p.get('normMax')}]")
    elif t == "Expectation":
        for c in p.get("checks", []):
            bounds = []
            if c.get("min") is not None:
                bounds.append(f"≥ {c['min']}")
            if c.get("max") is not None:
                bounds.append(f"≤ {c['max']}")
            out.append(f"dataset {c.get('metric')} of "
                       f"`{c.get('column', col)}` must be "
                       + " and ".join(bounds))
    elif t == "Outlier":
        out.append(f"`{col}` must lie inside the {p.get('method')} fences"
                   + (f" (k={p['k']})" if p.get("k") is not None else ""))
    elif t == "AggConsistency":
        out.append(f"`{col}` must reconcile with {p.get('agg')} of child "
                   f"dim {p.get('dim')!r}.{p.get('valueColumn')!r}"
                   + (f" within ±{p['tolerance']}"
                      if p.get("tolerance") is not None else ""))
    elif t == "GroupShare":
        for g, b in (p.get("shares") or {}).items():
            out.append(f"share of group {g!r} must lie in "
                       f"[{b.get('min', 0)}, {b.get('max', 1)}]")
    elif t == "DistinctBand":
        for g, b in (p.get("bands") or {}).items():
            out.append(f"distinct `{col}` count for {g!r} must lie in "
                       f"[{b.get('min', 0)}, {b.get('max', '∞')}]")
    elif t == "Monotonic":
        out.append(f"`{col}` must be {p.get('direction', 'increasing')} "
                   f"within each `{p.get('keyColumn')}` ordered by "
                   f"`{p.get('orderBy')}`")
        if p.get("maxStep") is not None:
            out.append(f"consecutive steps must not exceed {p['maxStep']}")
    elif t == "FunctionalDependency":
        out.append(f"({_fmt(p.get('determinants', []))}) must determine "
                   f"`{col}` (one value per determinant combination)")
    elif t == "HeavyHitters":
        if p.get("maxShare") is not None:
            out.append(f"no single `{col}` value may exceed "
                       f"{p['maxShare']:.0%} of rows")
        if p.get("maxCount") is not None:
            out.append(f"no single `{col}` value may exceed "
                       f"{p['maxCount']} rows")
    elif t == "Drift":
        out.append(f"distribution of `{col}` must match baseline dim "
                   f"{p.get('baseline')!r}")
        for key, label in (("psiMax", "PSI"), ("ksAlpha", "KS α"),
                           ("jsdMax", "JSD"), ("chi2Alpha", "χ² α")):
            if p.get(key) is not None:
                out.append(f"{label} threshold {p[key]}")
    if not out:
        out.append(f"`{col}` must satisfy the {t} constraint")
    return out


def explain_rule(rule: RuleDefinition) -> dict[str, Any]:
    """Structured explanation of one rule — the engine's
    ``ValidationExplanationService.ForProjectRule`` analog.

    Returns ``{summary, checks[], how, error_codes[], severity, stage,
    confidence, scale_notes}`` — pure driver-side template work; no
    Spark session or job. An author-provided
    ``params.explanation: {what, how}`` wins verbatim with high
    confidence, like the reference's ``RuleExplanation`` override
    (:113-129)."""
    from .compiler import RULE_STAGES
    from .plans import emitted_error_codes

    t = rule.type
    custom = rule.params.get("explanation") or {}
    # the SAME function the dataset-plan compiler uses — the authoring
    # answer and the runtime emission cannot drift (round-4 review fix)
    codes = list(emitted_error_codes(rule))
    # the structured severity must be what the COMPILED rule emits, not
    # the parse default (round-5 review): an Enum's binding drives its
    # violation severity, a skip-lane notice is capped required→warning/
    # else→info, and a suppressed skip lane emits nothing at all
    severity = rule.severity or "error"
    if t == "Enum":
        from .compiler import BINDING_SEVERITY, notice_cap
        binding = rule.params.get("binding")
        # notice_cap VALIDATES the binding (raises the compiler's own
        # RuleConfigurationError on a typo — round-5 review batches 2+4:
        # the authoring surface must never describe an emission for an
        # uncompilable rule) and yields the capped notice severity
        cap = notice_cap(binding, rule.id)
        skip_lane = (not rule.params.get("values")
                     and rule.params.get("valueSet"))
        if skip_lane:
            severity = cap                    # None = nothing emitted
        elif binding is not None:
            severity = BINDING_SEVERITY[binding]
    stage_num = RULE_STAGES.get(t, Stage.BUSINESS)
    stage_name = {v: k for k, v in vars(Stage).items()
                  if isinstance(v, int)}.get(stage_num, str(stage_num))
    checks = _checks(rule)
    return {
        "rule_id": rule.id,
        "rule_type": t,
        "summary": custom.get("what") or (
            f"Rule {rule.id!r} ({t}) validates "
            f"`{rule.column or '<dataset>'}`: " + checks[0]),
        "checks": checks,
        "how": custom.get("how") or (
            "Rows failing any check above become violation rows keyed "
            "(doc_id, rule_id, error_code); fix the data or adjust the "
            "rule's parameters."),
        "error_codes": codes,
        "severity": severity,
        "stage": stage_name,
        "confidence": ("high" if custom
                       else _CONFIDENCE.get(t, "medium")),
        "scale_notes": _SCALE_NOTES.get(
            t, "executes as a dataset-level aggregation plan"),
    }


def explain_ruleset(ruleset) -> list[dict[str, Any]]:
    """Explain every rule in a RuleSet (stable rule order)."""
    return [explain_rule(r) for r in ruleset.rules]


def explain_violation(error_code: str, path: str | None = None,
                      detail: Mapping[str, str] | None = None
                      ) -> dict[str, str]:
    """Per-issue explanation — ``ForReference``/``ForFhirStructural``
    analog (:28-105): deterministic template keyed by error code, detail
    values spliced in only when present (no invented examples)."""
    d = dict(detail or {})
    at = f"`{path}`" if path else "this location"
    if error_code == "REFERENCE_NOT_FOUND":
        what = (f"The reference at {at} points to a row that does not "
                f"exist in the reference dim.")
        how = ("Ensure the referenced row is present in the dim, or "
               "correct the reference value"
               + (f" ({d['value']!r})" if "value" in d else "") + ".")
        conf = "high"
    elif error_code == "REFERENCE_TYPE_MISMATCH":
        what = ("The referenced row's type does not match the expected "
                "type for this field.")
        how = ("Point the reference at the correct type"
               + (f" (expected {d['expectedTypes']}, found "
                  f"{d.get('actualType')!r})"
                  if "expectedTypes" in d else "") + ".")
        conf = "high"
    elif error_code == "DISTRIBUTION_DRIFT":
        what = (f"The distribution of {at} has drifted from the pinned "
                f"baseline snapshot.")
        how = ("Inspect the drift statistics"
               + (f" (PSI {d.get('psi')}, KS {d.get('ks')})"
                  if "psi" in d else "")
               + " and either re-baseline intentionally or quarantine "
                 "the batch.")
        conf = "medium"
    elif error_code in ("FIELD_REQUIRED", "ANSWER_REQUIRED"):
        what = f"A required value at {at} is missing or empty."
        how = "Add a value to satisfy the requirement."
        conf = "high"
    else:
        what = f"Validation issue {error_code} was detected at {at}."
        how = ("Inspect the violation's detail payload"
               + (f" ({sorted(d)})" if d else "")
               + " and correct the offending data.")
        conf = "medium"
    return {"what": what, "how": how, "confidence": conf}
