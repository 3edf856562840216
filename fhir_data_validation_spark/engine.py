"""ValidationEngine: one scan, many rules → violations + verdicts.

Execution model (SURVEY §3.4 / §4.3), re-expressing the reference pipeline
(``Core/ValidationPipeline.cs:80-480``) as Spark dataflow:

1. **Fused predicate pass** — one codegen'd filter on the OR of every
   per-row rule condition over the scan, then violation structs built and
   exploded for the (rare) violating rows after an exchange (see
   :func:`predicate_violations` for why). One scan serves all rules (the
   reference's rule-grouping-by-resourceType optimization,
   ``FhirPathRuleEngine.cs:77-79``, generalized) and never fails the job on
   data errors (collect-all semantics,
   ``JsonNodeStructuralValidator.cs:60-61``).
2. **Dataset passes** — uniqueness / referential / membership / CodeMaster /
   cardinality / drift plans (see ``plans/``), unioned by name into the same
   violations schema.
3. **Dedup** — stage-priority ``row_number`` dedup on
   ``(doc_id, error_code, column, element value)``, earlier authority wins
   (``ValidationPipeline.DeduplicateErrors``, ``ValidationPipeline.cs:783-827``);
   skipped entirely when the compiled plan proves no collision is possible.
4. **Verdicts** — per-(group, rule) pass/fail aggregation
   (``FinalizeSummary``, ``ValidationPipeline.cs:755-770``), including rules
   with zero violations; pass ⇔ zero error-severity violations
   (``Controllers/ValidateController.cs:70``). One aggregation with no
   join: rows per group exploded over the rule ids, unioned with one row
   per violation, grouped once (see :func:`build_verdicts`).

Every input-independent ``Column`` tree of these steps is built on the
first validate against a compiled plan and reused after that
(:meth:`CompiledPlan.memo`); a warm call only assembles DataFrames.

The engine never mutates input rows (zero-mutation guarantee,
``docs/01_architecture_spec.md:28-29``): violations and verdicts are new
DataFrames; the input is only read.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .compiler import CompiledPlan, EngineConfig, compile_ruleset
from .errors import Severity, Stage
from .model import RuleSet
from .session import local_frame

CHUNK = 40  # max fused rules per projection — caps codegen size (SURVEY §7.3a)


@dataclass
class ValidationResult:
    violations: DataFrame   # unified error model rows (deduped)
    verdicts: DataFrame     # (partition_key, rule_id, rows, violations, errors, passed)
    _persisted: DataFrame | None = None
    key_col: str | None = None   # the run's EngineConfig.key_col (for split)
    # ids of the run's per-row predicate rules: lets split() tell a
    # NULL-KEY row's violation (doc_id null, rule per-row) apart from a
    # genuine dataset-level row (round-5 review batch 9)
    row_rule_ids: tuple[str, ...] = ()
    # violations per (severity, rule_type), see _counts()
    _count_memo: dict | None = field(default=None, repr=False, compare=False)

    def unpersist(self) -> None:
        """Release the cached violations (batch runners call this once a
        batch's output is committed)."""
        if self._persisted is not None:
            self._persisted.unpersist()

    def _counts(self) -> dict[tuple[str, str], int]:
        """Violations per (severity, rule_type): one aggregation over the
        violations, run on first use and shared by :meth:`passed` and
        :meth:`response`."""
        if self._count_memo is None:
            self._count_memo = {
                (r["severity"], r["rule_type"]): r["n"]
                for r in (self.violations
                          .groupBy("severity", "rule_type")
                          .agg(F.count(F.lit(1)).alias("n"))
                          .collect())}
        return self._count_memo

    def passed(self) -> bool:
        """Run-level pass/fail: no error-severity violations anywhere."""
        return not any(n for (sev, _), n in self._counts().items()
                       if sev == Severity.ERROR)

    def contract_report(self, limit: int = 20) -> list[dict]:
        """Audit this run's violations against the frozen per-errorCode
        details contract (``details_contract.DETAILS_CONTRACT`` — the
        ``ValidationErrorDetailsValidator.cs`` analog). Inspects only the
        DISTINCT (error_code, detail-key-set) combinations, so the job is
        bounded by |codes| × |lane shapes| at any corpus size. Empty list
        = every emitted detail map matches its code's declared shapes."""
        from .details_contract import contract_report
        return contract_report(self.violations, limit=limit)

    def split(self, df: DataFrame,
              severities: tuple[str, ...] = (Severity.ERROR,),
              key_col: str | None = None) -> tuple[DataFrame, DataFrame]:
        """Quarantine split: partition the INPUT rows into
        ``(clean, quarantined)`` by whether any violation at one of
        ``severities`` names their key — the badRecordsPath-style sink a
        curation pipeline routes around (clean rows flow on, quarantined
        rows land in a review table with their violations joinable by
        key). The reference returns an issue list and leaves the bundle
        intact; at corpus scale the split IS the product.

        Dataset-level violations (null ``doc_id`` — RequiredResources /
        Expectation / Drift / GroupShare rollups) have no row identity:
        they gate the RUN (``passed()``), not individual rows, and are
        ignored here. A NULL-KEY row's own per-row violations also carry
        a null doc_id — those are NOT dataset-level: when any exist (at
        the given severities, from a per-row rule of this run), ALL
        null-key rows are quarantined, because null keys are mutually
        indistinguishable and shipping a known-bad row as clean is the
        one unacceptable outcome (round-5 review batch 9).

        Plan shape: the distinct bad-key set is *reduced* data (≤ bad
        rows); both sides join against it — AQE broadcasts it when small,
        sort-merge otherwise. ``df`` is scanned once per side; persist it
        (or write the clean side first) if the upstream is expensive.
        """
        kc = key_col or self.key_col
        if not kc:
            raise ValueError("split() needs key_col (not recorded on this "
                             "result — pass it explicitly)")
        from .plans import VALUE_KEYED_RULE_TYPES
        # only violations whose doc_id is a genuine ROW key may route
        # rows: value-keyed families (heavy values, group names,
        # determinant tuples — and Unique on a non-key column, whose
        # doc_id is the duplicated VALUE) gate the run via passed()/
        # verdicts instead; a colliding value must never quarantine an
        # unrelated row
        row_keyed = (~F.col("rule_type").isin(
                         sorted(VALUE_KEYED_RULE_TYPES))
                     & ~((F.col("rule_type") == "Unique")
                         & (F.col("column") != kc)))
        sev = F.col("severity").isin(list(severities))
        bad = (self.violations
               .where(sev & F.col("doc_id").isNotNull() & row_keyed)
               .select(F.col("doc_id").alias("_bad_key"))
               .distinct())
        on = F.col(kc).cast("string") == F.col("_bad_key")
        # per-row violations from a NULL-key row carry doc_id NULL — they
        # would never equi-match and the bad row would ship as clean.
        # row_rule_ids (the run's per-row predicate rules) separates them
        # from genuine dataset-level rows; one limit(1) count on the
        # persisted violations decides the routing
        null_key_bad = False
        if self.row_rule_ids:
            null_key_bad = (self.violations.where(
                sev & F.col("doc_id").isNull()
                & F.col("rule_id").isin(list(self.row_rule_ids)))
                .limit(1).count() > 0)
        if null_key_bad:
            key_null = F.col(kc).isNull()
            with_key = df.where(~key_null)
            clean = with_key.join(bad, on=on, how="left_anti")
            quarantined = df.where(key_null).unionByName(
                with_key.join(bad, on=on, how="left_semi"))
        else:
            clean = df.join(bad, on=on, how="left_anti")
            quarantined = df.join(bad, on=on, how="left_semi")
        return clean, quarantined

    def summary(self) -> DataFrame:
        """Counts by severity × rule (A4, ``FinalizeSummary``)."""
        return (self.violations
                .groupBy("severity", "rule_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy("severity", "rule_id"))

    def response(self, max_errors: int = 100,
                 rules_version: str | None = None,
                 processing_time_ms: int | None = None,
                 explain: bool = False) -> dict:
        """S5 response assembly: the reference's ``ValidationResponse``
        payload (``Models/ValidationResponse.cs:9-85``) — error list
        (bounded by ``max_errors``; total counts stay exact), severity +
        stage summary, metadata — computed from the one aggregation
        :meth:`passed` also reads, plus one bounded collect (none when
        there are no violations). At corpus scale the full violations
        table stays in the violations DataFrame/sink; this is the
        API-shaped digest.

        ``explain=True`` attaches a structured ``{what, how, confidence}``
        explanation to each returned error (the reference's authoring-mode
        ``ValidationError.Explanation`` field, always optional) — pure
        driver-side templating over the already-collected bounded list.

        Naming note (reference semantics): a ``ValidationError`` object is
        an ISSUE of any severity (the severity rides inside it), so
        ``totalErrors`` and the stage ``*ErrorCount`` buckets count
        issues of ALL severities and partition ``totalErrors`` exactly;
        only ``errorCount`` (and ``isValid``, keyed off it) is
        severity='error'-scoped. Pinned by test_response_assembly."""
        by_sev: dict[str, int] = {}
        by_type: dict[str, int] = {}
        for (sev, rule_type), n in self._counts().items():
            by_sev[sev] = by_sev.get(sev, 0) + n
            by_type[rule_type] = by_type.get(rule_type, 0) + n
        total = sum(by_sev.values())
        # Stage buckets mirroring ValidationSummary (ValidationResponse.cs:53-66):
        #   lintErrorCount — raw-ingest JSON lint findings (rule_type "Ingest",
        #     the PERMISSIVE corrupt-record lane: the analog of the reference's
        #     JSON lint stage);
        #   fhirErrorCount — STRUCTURE-stage findings (TypeCheck/Enum/Regex/
        #     ValueExclusivity grammar+type conformance: the analog of the
        #     reference's FHIR structural stage);
        #   businessErrorCount — everything else except Reference/CodeMaster,
        #     which keep their dedicated keys.
        from .compiler import RULE_STAGES
        lint_n = by_type.get("Ingest", 0)
        fhir_n = sum(n for t, n in by_type.items()
                     if RULE_STAGES.get(t) == Stage.STRUCTURE)
        # deterministic digest, errors first — a bare limit() would return
        # an arbitrary subset that can omit every ERROR row while isValid
        # is false. The sort key extends past (rule, doc) with column /
        # error_code / element index so per-element violations of one
        # rule on one doc don't tie at the truncation boundary and flap
        # run-to-run (round-5 review batch 9)
        errors = []
        if total:
            sev_rank = (F.when(F.col("severity") == Severity.ERROR, 0)
                        .when(F.col("severity") == Severity.WARNING, 1)
                        .otherwise(2))
            d = F.col("detail")
            errors = [
                {"resourceId": r["doc_id"], "ruleId": r["rule_id"],
                 "ruleType": r["rule_type"], "errorCode": r["error_code"],
                 "severity": r["severity"], "source": r["source"],
                 "fieldPath": r["column"],
                 "details": dict(r["detail"] or {})}
                for r in (self.violations
                          .orderBy(sev_rank, "rule_id", "doc_id", "column",
                                   "error_code",
                                   d["index"].cast("int"),
                                   d["innerIndex"].cast("int"), d["value"])
                          .limit(max_errors).collect())]
        if explain:
            from .explanations import explain_violation
            for e in errors:
                e["explanation"] = explain_violation(
                    e["errorCode"], e["fieldPath"], e["details"])
        summary = {
            "totalErrors": total,
            "errorCount": by_sev.get(Severity.ERROR, 0),
            "warningCount": by_sev.get(Severity.WARNING, 0),
            "infoCount": by_sev.get(Severity.INFO, 0),
            "lintErrorCount": lint_n,
            "fhirErrorCount": fhir_n,
            "businessErrorCount": sum(
                n for t, n in by_type.items()
                if t not in ("Reference", "CodeMaster", "Ingest")
                and RULE_STAGES.get(t) != Stage.STRUCTURE),
            "codeMasterErrorCount": by_type.get("CodeMaster", 0),
            "referenceErrorCount": by_type.get("Reference", 0),
        }
        meta = {"rulesVersion": rules_version,
                "processingTimeMs": processing_time_ms}
        return {"isValid": by_sev.get(Severity.ERROR, 0) == 0,
                "errors": errors, "errorsTruncated": total > max_errors,
                "summary": summary, "metadata": meta}


class ValidationEngine:
    def __init__(self, ruleset: RuleSet, dims: dict[str, DataFrame] | None = None,
                 config: EngineConfig | None = None):
        self.ruleset = ruleset
        self.dims = dict(dims or {})
        self.config = config or EngineConfig()
        self._plan: CompiledPlan | None = None
        self._plan_schema: str | None = None
        # batch runners validate from several threads: one compile per schema
        self._compile_lock = threading.Lock()

    def compile(self, df: DataFrame) -> CompiledPlan:
        """Compile against the input schema (pre-flight; raises
        RuleConfigurationError on any malformed rule).

        Cached per schema: compiled predicates are unresolved Column
        expression trees, reusable against any DataFrame with the same
        schema. Plan construction is driver-side py4j work (~1 s for a
        full rule set) that would otherwise repeat per batch in
        ResumableRun / streaming foreachBatch loops."""
        key = df.schema.json()
        with self._compile_lock:
            if self._plan is None or self._plan_schema != key:
                self._plan = compile_ruleset(self.ruleset, df.schema,
                                             self.config, self.dims)
                self._plan_schema = key
            return self._plan

    def validate(self, df: DataFrame) -> ValidationResult:
        # NOTE: do not .persist() the dims here — caching a dim replaces its
        # parquet/local-relation size estimate with InMemoryRelation stats and
        # can flip broadcast joins to sort-merge (measured 3-4× slowdown).
        plan = self.compile(df)
        violations = self._all_violations(df, plan)
        # skip the dedup shuffle when no two rules can collide on an
        # (error_code, column) location — compile-time decidable
        if self.config.dedupe and plan.needs_dedupe():
            violations = dedupe_violations(violations)
        # Violations are *reduced* data (bounded by bad rows, not input rows):
        # persist so the verdict aggregation and downstream consumers don't
        # re-execute every rule pass over the full input. MEMORY_AND_DISK
        # spills gracefully in the pathological everything-is-bad case.
        from pyspark import StorageLevel
        violations = violations.persist(StorageLevel.MEMORY_AND_DISK)
        verdicts = build_verdicts(df, violations, plan)
        return ValidationResult(violations=violations.drop("stage"),
                                verdicts=verdicts, _persisted=violations,
                                key_col=self.config.key_col,
                                row_rule_ids=plan.row_rule_ids)

    # -- internals ---------------------------------------------------------

    def _all_violations(self, df: DataFrame, plan: CompiledPlan) -> DataFrame:
        from .plans import VIOLATION_SCHEMA
        parts: list[DataFrame] = []
        if plan.predicates:
            parts.append(predicate_violations(df, plan))
        for dp in plan.dataset_plans:
            parts.append(dp.execute(df, plan))
        if plan.notices:
            # compile-time notices (ENUM_VALIDATION_SKIPPED): a handful of
            # literal dataset-level rows, zero distributed cost
            parts.append(local_frame(df.sparkSession, plan.notices,
                                     VIOLATION_SCHEMA))
        if not parts:
            return local_frame(df.sparkSession, [], VIOLATION_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class _FusedChunk(NamedTuple):
    """The input-independent Column trees of one fused-pass chunk."""
    any_cond: Column          # the full-scan filter: OR of the conditions
    fired_bits: Column        # bit b set ⇔ the chunk's rule b fired
    fired_cols: list          # key, group, exploded violation struct
    plain_cols: list          # the violation row of a whole-row finding
    # per-element fan-out (params.perElement): (whole-row filter,
    # per-element filter, fan-out select, final select); None when no
    # rule of the chunk has elements
    per_element: tuple | None


def _fused_chunks(plan: CompiledPlan) -> list[_FusedChunk]:
    """Chunk the per-row rules and build each chunk's Column trees."""
    cfg = plan.config
    # HOF-bearing predicates (VectorCheck norm lane, …) are CodegenFallback:
    # chunk them separately so the main rules' shared scan filter stays
    # inside whole-stage codegen
    friendly = [p for p in plan.predicates if not p.hof]
    fallback = [p for p in plan.predicates if p.hof]
    chunks = ([friendly[i:i + CHUNK]
               for i in range(0, len(friendly), CHUNK)]
              + [fallback[i:i + CHUNK]
                 for i in range(0, len(fallback), CHUNK)])
    out = []
    for chunk in chunks:
        # the full-input stage keeps the plain OR filter (short-circuiting,
        # codegen); the surviving (violating) rows then get a fired-rule
        # bitmask — still in the codegen scan stage, but over O(bad rows)
        # only — so the post-exchange interpreted side guards each struct
        # with a bit test instead of re-evaluating the rule conditions
        # (CHUNK=40 < 63 bits)
        any_cond = chunk[0].condition
        for p in chunk[1:]:
            any_cond = any_cond | p.condition
        fired_bits = F.lit(0).cast("long")
        for b, p in enumerate(chunk):
            fired_bits = fired_bits.bitwiseOR(
                F.when(p.condition, F.lit(1 << b).cast("long"))
                 .otherwise(F.lit(0).cast("long")))
        arr = F.array_compact(F.array(*[
            p.violation_struct(
                F.col("_fdv_fired")
                 .bitwiseAND(F.lit(1 << b).cast("long")) != 0)
            for b, p in enumerate(chunk)]))
        fired_cols = [F.col(cfg.key_col).cast("string").alias("doc_id"),
                      F.col(cfg.group_col).cast("string").alias("source"),
                      F.explode(arr).alias("v")]
        base = [F.col(c) for c in ("doc_id", "v.rule_id", "v.rule_type",
                                   "v.error_code", "v.severity", "source",
                                   "v.column")]
        plain_cols = [*base, F.col("v.detail").alias("detail"),
                      F.col("v.stage")]
        per_element = None
        if any(p.elements is not None for p in chunk):
            # per-element fan-out: one violation per bad element with its
            # index — runs on fired rows only, O(bad elements)
            # (FhirPathRuleEngine.cs:446-478)
            fan_out = [*base, F.col("v.detail").alias("_detail"),
                       F.col("v.stage").alias("stage"),
                       F.explode("v.elements").alias("e")]
            final = [*[F.col(c) for c in ("doc_id", "rule_id", "rule_type",
                                          "error_code", "severity", "source",
                                          "column")],
                     F.map_concat(
                         F.col("_detail"),
                         F.create_map(
                             F.lit("index"), F.col("e.i").cast("string"),
                             F.lit("value"), F.col("e.v")),
                         # innerIndex only for nested a[*].b[*].c paths
                         # (composite (i, j) element addressing);
                         # single-level details keep their exact shape
                         F.map_filter(
                             F.create_map(F.lit("innerIndex"),
                                          F.col("e.j").cast("string")),
                             lambda _k, v: v.isNotNull()))
                      .alias("detail"),
                     F.col("stage")]
            per_element = (F.col("v.elements").isNull(),
                           F.col("v.elements").isNotNull(), fan_out, final)
        out.append(_FusedChunk(any_cond, fired_bits, fired_cols, plain_cols,
                               per_element))
    return out


def predicate_violations(df: DataFrame, plan: CompiledPlan) -> DataFrame:
    """The fused one-scan pass over all per-row rules.

    Physical shape (verified with ``.explain("formatted")``):

        Scan → Filter[cond₁ ∨ … ∨ condₙ] → Exchange →
        Generate(explode(violation array)) → Project

    The full-input stage is ONLY the filter on the OR of all rule conditions
    — every condition compiles to native functions (array_min/max,
    array_except, size, rlike, isin …) so the whole scan stays inside
    ``WholeStageCodegen``. The violation structs (with their
    higher-order-function detail builders, which are ``CodegenFallback`` and
    would force the entire expression tree out of codegen — measured 10×
    slower on a 10^8-token scan) are built only AFTER the exchange, over
    violating rows alone; re-evaluating the per-rule conditions there costs
    O(bad rows), not O(input). The exchange carries violating rows with
    their input columns — bounded by bad data, not input size.

    Chunked at ``CHUNK`` rules per filter to keep each generated codegen
    body bounded (SURVEY §7.3a); chunks share the scan via union. The
    chunks' Column trees are built once per compiled plan
    (:meth:`CompiledPlan.memo`); a call only assembles the DataFrames.
    """
    cfg = plan.config
    if not plan.predicates:
        # a ruleset can legally compile to zero per-row predicates (e.g.
        # every rule was a suppressed enum-skip lane, round 5) — return a
        # typed empty frame DERIVED FROM the input so the result stays a
        # streaming DataFrame on streaming input (a driver-side
        # createDataFrame([]) would not union/writeStream there)
        from .plans import VIOLATION_SCHEMA
        from pyspark.sql.types import StructType
        empty_cols = [F.lit(None).cast(f.dataType).alias(f.name)
                      for f in StructType.fromDDL(VIOLATION_SCHEMA).fields]
        return df.where(F.lit(False)).select(*empty_cols)
    if plan.needs_first_scope:
        # `first` instance scope (P3): stable first row per group by key order
        w = Window.partitionBy(cfg.group_col).orderBy(cfg.key_col)
        df = df.withColumn("_rn", F.row_number().over(w))

    # exchange width scales with the session's shuffle sizing (an explicit
    # width, not a bare repartition(): AQE would coalesce the small-bytes
    # violation set onto too few tasks for the interpreted detail builders,
    # which are compute-bound, not size-bound)
    # the conf may hold a non-numeric value ("auto" under AQE-auto on some
    # platforms) — fall back to the cluster's default parallelism, not a crash
    try:
        conf_width = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
    except ValueError:
        conf_width = df.sparkSession.sparkContext.defaultParallelism or 200
    width = cfg.violation_partitions or conf_width
    parts = []
    for c in plan.memo("engine.fused_chunks", lambda: _fused_chunks(plan)):
        fired = (df.where(c.any_cond)
                 .withColumn("_fdv_fired", c.fired_bits)
                 .repartition(width)
                 .select(*c.fired_cols))
        if c.per_element is None:
            parts.append(fired.select(*c.plain_cols))
            continue
        whole_row, per_element, fan_out, final = c.per_element
        parts.append(fired.where(whole_row).select(*c.plain_cols))
        parts.append(fired.where(per_element).select(*fan_out)
                     .select(*final))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dedupe_violations(violations: DataFrame) -> DataFrame:
    """A5: if two stages flag the same location — (doc_id, error_code,
    column, element value) — the earlier-authority stage wins
    (``ValidationPipeline.cs:783-827``; STRUCTURE outranks later stages).
    ``detail['value']`` stands in for the reference's element-indexed
    jsonPointer so per-element violations (Membership/CodeMaster) are
    distinct locations, not duplicates. Dataset-level rows (doc_id null)
    are never deduped against each other across rules.

    Implemented as ``min_by`` over a lexicographic (stage, rule_id) struct
    — an aggregation with map-side partial combine (SortAggregate: struct
    buffers aren't hash-aggregable) — rather than a ``row_number`` window:
    the window shuffles every violation at full width and sorts each
    partition; the aggregate pre-collapses duplicates before the exchange
    (measured: dedup cost ≈ 0 on a 200k-violation pass vs ~+1 s for the
    window)."""
    cols = violations.columns
    # ONE aggregation pass over the union — splitting into isNull/isNotNull
    # branches would re-execute every upstream subplan (a second full scan
    # per broadcast-join dataset plan). Dataset-level rows (doc_id null)
    # must never dedupe across rules, so the grouping key gains rule_id for
    # exactly those rows (null constant for doc-level rows); source is in
    # the key to keep per-source dataset rows (Drift) apart — for doc-level
    # rows it is functionally dependent on doc_id, so no group changes.
    best = (violations
            .groupBy(F.col("doc_id"), F.col("error_code"), F.col("column"),
                     F.col("detail")["value"].alias("_val"),
                     F.col("detail")["index"].alias("_idx"),
                     # nested a[*].b[*].c elements: (index, innerIndex) is
                     # the location — without innerIndex two same-valued
                     # bad elements in one outer group would collapse
                     F.col("detail")["innerIndex"].alias("_idx2"),
                     # JsonPath: the probed path is the location — two
                     # rules on the same JSON column but different paths
                     # are distinct findings, not duplicates
                     F.col("detail")["path"].alias("_path"),
                     F.col("source").alias("_src"),
                     F.when(F.col("doc_id").isNull(), F.col("rule_id"))
                      .alias("_dsrule"))
            .agg(F.min_by(F.struct(*cols),
                          F.struct(F.col("stage"), F.col("rule_id")))
                 .alias("_v"))
            .select("_v.*"))
    return best


class _VerdictColumns(NamedTuple):
    """The input-independent Column trees of :func:`build_verdicts`."""
    group: Column         # partition_key of an input row
    rows: Column          # rows per group
    grid: list            # (group, rows) → one zero-count row per rule id
    events: list          # one row per violation
    keys: list
    aggs: list
    out: list


def _verdict_columns(plan: CompiledPlan) -> _VerdictColumns:
    # NULL group values (input rows and violation sources alike) become a
    # sentinel partition of their own
    null_key = "<null>"
    # a NULL-KEY row's per-row violation carries doc_id NULL but is NOT
    # dataset-level: it must count under ITS group's verdict (it carries
    # source), not drift to the <dataset> row while the group reports
    # passed (round-5 review batch 9). Per-row rules are exactly
    # plan.predicates; dataset plans and notices stay run-level.
    row_ids = list(plan.row_rule_ids)
    is_row_level = F.col("doc_id").isNotNull()
    if row_ids:
        is_row_level = is_row_level | F.col("rule_id").isin(row_ids)
    # the cast and the CASE WHENs below (not coalesce) keep rule_id and
    # partition_key nullable, as the verdict schema declares them
    rule_ids = F.array(*[F.lit(r) for r in plan.rule_ids]).cast(
        "array<string>")
    group = F.col(plan.config.group_col).cast("string")
    source = F.col("source")
    no_count = F.lit(None).cast("int")
    return _VerdictColumns(
        group=F.when(group.isNull(), F.lit(null_key)).otherwise(group)
               .alias("partition_key"),
        rows=F.count(F.lit(1)).alias("rows"),
        grid=[F.col("partition_key"), F.explode(rule_ids).alias("rule_id"),
              F.col("rows"), no_count.alias("_violation"),
              no_count.alias("_error"), F.lit(False).alias("_run_level")],
        events=[F.when(~is_row_level, F.lit("<dataset>"))
                 .when(source.isNull(), F.lit(null_key)).otherwise(source)
                 .alias("partition_key"),
                F.col("rule_id"), F.lit(None).cast("long").alias("rows"),
                F.lit(1).alias("_violation"),
                F.when(F.col("severity") == Severity.ERROR, 1)
                 .alias("_error"),
                (~is_row_level).alias("_run_level")],
        keys=[F.col("partition_key"), F.col("rule_id"), F.col("_run_level")],
        aggs=[F.max("rows").alias("rows"),
              F.count("_violation").alias("violations"),
              F.count("_error").alias("errors")],
        out=[F.col("partition_key"), F.col("rule_id"), F.col("rows"),
             F.col("violations"), F.col("errors"),
             (F.col("errors") == 0).alias("passed")])


def build_verdicts(df: DataFrame, violations: DataFrame,
                   plan: CompiledPlan) -> DataFrame:
    """Per-(partition_key, rule) pass/fail table (A4 re-keyed per partition).

    partition_key is the *stable* group value (``source``), not
    ``spark_partition_id()``, so verdicts survive repartitioning and feed the
    lineage/resume path deterministically (SURVEY §7.3c).

    One aggregation, no join. The input's rows per group are exploded
    over the plan's rule ids (every rule gets a row per group, violations
    or not), one row per violation is unioned in, and a single
    ``groupBy(partition_key, rule_id, run-level flag)`` takes the rows and
    counts the violations and errors:

    * a violation whose group is absent from the input (a declared but
      missing group, GroupShare closed world; a value-keyed rule's NULL
      source) still gets its row, with ``rows`` NULL;
    * a dataset-level violation (no doc_id, not from a per-row rule)
      counts under the run-level ``<dataset>`` row; the flag keeps that
      row apart from a data group literally named ``<dataset>``.
    """
    c = plan.memo("engine.verdicts", lambda: _verdict_columns(plan))
    grid = df.groupBy(c.group).agg(c.rows).select(*c.grid)
    return (grid.unionByName(violations.select(*c.events))
            .groupBy(*c.keys).agg(*c.aggs).select(*c.out))


def validate(df: DataFrame, ruleset: RuleSet,
             dims: dict[str, DataFrame] | None = None,
             config: EngineConfig | None = None) -> ValidationResult:
    """Convenience one-shot API."""
    return ValidationEngine(ruleset, dims=dims, config=config).validate(df)
