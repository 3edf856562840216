"""Checkpoint / lineage / resume: per-partition progress + metrics.

North-rule requirement (SURVEY §7.2 step 7): the engine checkpoints
per-partition progress and rule-level metrics to a lineage table so a run
resumes after failure **without re-scanning validated partitions**. The
reference has no analog — its whole run is one in-memory request
(``Core/ValidationPipeline.cs:80-480``, ``processingTimeMs`` metadata at
``Models/ValidationResponse.cs:83-84``); lineage is what replaces that
single-process wall-clock accounting at 10^12-row scale.

Design
------
* Work is partitioned by ``group_col`` (the ``source`` column — the
  reference's resourceType discriminator). On a production Iceberg table
  partitioned by ``source``, the per-batch ``df.filter(source IN (...))``
  prunes at the snapshot/manifest level, so resuming **never re-reads
  completed partitions' files**. Locally the same pruning happens on
  hive-partitioned parquet directories.
* Each batch writes its violations + verdicts with **dynamic partition
  overwrite** keyed by ``partition_key`` — re-running an interrupted batch
  replaces (not duplicates) its output, making batches idempotent.
* Only after a batch's data is committed does the runner append the lineage
  marker row. A crash between data-write and marker-write re-runs that one
  batch on resume — at-least-once with idempotent output = exactly-once
  results.
* The lineage table is small (one row per (run, partition, rule)) and append
  only; on Iceberg the append becomes a MERGE keyed
  ``(run_id, partition_key, rule_id)``. Locally it is hive-partitioned
  parquet under ``<root>/lineage/``.

Dataset-scoped rules (Unique / RequiredResources / Drift) need cross-
partition visibility, so the runner evaluates them in a dedicated final
``<dataset>`` batch over the full input (their own passes are aggregation
jobs whose shuffle input is the reduced data, not the scan — SURVEY §4.3);
per-row rule families run inside the per-partition batches.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compiler import EngineConfig
from .engine import ValidationEngine, ValidationResult
from .model import RuleSet

# Rule types that must see the whole dataset, not one group partition
# (GroupShare compares shares ACROSS partitions; FunctionalDependency
# misses determinants whose conflicting dependents land in different
# batches; HeavyHitters/DistinctBand would count per batch; Monotonic
# sequences can span groups). DERIVED from the compiler's dataset-rule
# registry so a newly added dataset rule type defaults to the SAFE
# global batch — a second hand-maintained list here silently drifted
# once already. Only families with pure per-row join semantics are
# batch-safe; Expectation/Outlier keep their special cases in
# _needs_dataset_batch.
_BATCH_SAFE_DATASET_TYPES = frozenset(
    {"Reference", "Membership", "CodeSystem", "CodeMaster"})
from .compiler import DATASET_RULE_TYPES as _DS_TYPES  # noqa: E402
_GLOBAL_RULE_TYPES = tuple(
    t for t in _DS_TYPES
    if t not in _BATCH_SAFE_DATASET_TYPES
    and t not in ("Expectation", "Outlier"))


def _needs_dataset_batch(rule) -> bool:
    """Whether a rule's semantics require the final ``<dataset>`` batch.

    Beyond the always-global types: an Expectation aggregates dataset
    statistics (per-batch it would compute batch-local stats, and its
    closed-world convention would emit spurious violations from batches
    that don't contain the rule's scoped group); an Outlier with
    ``perGroup: false`` fences the whole dataset (per-batch fences would
    be batch-local). ``perGroup: true`` Outliers fence each group
    independently, so batching by group value leaves them bit-identical —
    they stay in the cheap per-partition batches.
    """
    if rule.type in _GLOBAL_RULE_TYPES or rule.type == "Expectation":
        return True
    return (rule.type == "Outlier"
            and not rule.params.get("perGroup", True))

LINEAGE_SCHEMA = ("run_id string, partition_key string, rule_id string, "
                  "rows long, violations long, errors long, passed boolean, "
                  "wall_ms long, completed_at double")

_NULL_KEY = "<null>"
_DATASET_KEY = "<dataset>"


@dataclass
class LineageStore:
    """Parquet-backed lineage table (Iceberg MERGE target in production)."""

    path: str

    def read(self, spark: SparkSession) -> DataFrame:
        """Read the lineage table; an absent table (first run) is empty.

        Only the path-not-found analysis error is swallowed — a corrupt
        file or IO/permission fault must propagate, otherwise
        ``completed_partitions`` returns empty and the run silently
        re-executes everything (idempotent but expensive, and it hides a
        real storage fault)."""
        from pyspark.errors import AnalysisException
        try:
            return spark.read.parquet(self.path)
        except AnalysisException as exc:  # first run: table does not exist yet
            msg = str(exc)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return spark.createDataFrame([], LINEAGE_SCHEMA)
            raise

    def completed_partitions(self, spark: SparkSession, run_id: str) -> set[str]:
        rows = (self.read(spark)
                .where(F.col("run_id") == run_id)
                .select("partition_key").distinct().collect())
        return {r["partition_key"] for r in rows}

    def append(self, spark: SparkSession, records: list[tuple]) -> None:
        (spark.createDataFrame(records, LINEAGE_SCHEMA)
         .coalesce(1)
         .write.mode("append").parquet(self.path))

    def metrics(self, spark: SparkSession, run_id: str) -> DataFrame:
        """Per-(partition, rule) metrics for one run — the scale analog of the
        reference's ``processingTimeMs`` response metadata."""
        return self.read(spark).where(F.col("run_id") == run_id)


@dataclass
class ResumableRun:
    """Drives a resumable validation over one input DataFrame.

    ``run(df)`` is safe to call repeatedly with the same ``run_id``: completed
    partitions are skipped via the lineage table, interrupted ones are
    re-done idempotently (dynamic partition overwrite).
    """

    ruleset: RuleSet
    output_root: str
    dims: dict[str, DataFrame] | None = None
    config: EngineConfig = field(default_factory=EngineConfig)
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    groups_per_batch: int = 4
    # batches submitted concurrently from driver threads (FAIR scheduler
    # pools share executors). Batches are independent by construction —
    # disjoint group sets, dynamic-partition-overwrite to disjoint
    # partition_key values — so the only serialization left is the lineage
    # marker append (guarded by a lock). 1 = the old serial behavior.
    max_concurrent_batches: int = 4
    # alternate lineage backend (duck-typed LineageStore contract), e.g.
    # sources.iceberg_py.PyIcebergLineageStore for MERGE-upsert markers;
    # None = parquet LineageStore under output_root/lineage
    lineage_store: object | None = None

    def __post_init__(self):
        import threading
        # serializes lineage marker appends: plain parquet append commits
        # through a shared _temporary staging dir, which is not safe under
        # concurrent writers (the batch data writes ARE safe — dynamic
        # partition overwrite stages under a per-job unique directory)
        self._lineage_lock = threading.Lock()
        self.lineage = (self.lineage_store
                        or LineageStore(f"{self.output_root}/lineage"))
        self._violations_path = f"{self.output_root}/violations"
        self._verdicts_path = f"{self.output_root}/verdicts"
        per_row = [r for r in self.ruleset.rules
                   if not _needs_dataset_batch(r)]
        global_ = [r for r in self.ruleset.rules
                   if _needs_dataset_batch(r)]
        self._row_rules = RuleSet(version=self.ruleset.version,
                                  rules=tuple(per_row))
        self._global_rules = RuleSet(version=self.ruleset.version,
                                     rules=tuple(global_))
        # one engine per rule subset, shared by every batch: the compiled
        # plan is schema-keyed and reused, so per-batch driver-side plan
        # construction happens once per run, not once per batch
        self._row_engine = ValidationEngine(self._row_rules, dims=self.dims,
                                            config=self.config)
        self._global_engine = ValidationEngine(self._global_rules,
                                               dims=self.dims,
                                               config=self.config)

    # -- public API ---------------------------------------------------------

    def run(self, df: DataFrame) -> DataFrame:
        """Execute (or resume) the run; returns the lineage metrics DF."""
        spark = df.sparkSession
        done = self.lineage.completed_partitions(spark, self.run_id)

        group = self.config.group_col
        # group_col is low-cardinality by contract (the resourceType analog) —
        # the driver-side work list is tiny even at 10^12 rows.
        groups = [r[0] for r in
                  df.select(F.coalesce(F.col(group).cast("string"),
                                       F.lit(_NULL_KEY))).distinct().collect()]
        pending = sorted(g for g in groups if g not in done)

        batches = (list(_chunks(pending, self.groups_per_batch))
                   if self._row_rules.rules else [])
        want_global = bool(self._global_rules.rules) and _DATASET_KEY not in done

        if self.max_concurrent_batches <= 1 or len(batches) + want_global <= 1:
            for batch in batches:
                self._run_batch(df, batch)
            if want_global:
                self._run_global(df)
            return self.lineage.metrics(spark, self.run_id)

        # Concurrent batch execution: independent Spark jobs submitted from
        # driver threads, each in its own FAIR pool so they share executor
        # slots instead of queueing FIFO. The global (dataset-scoped) pass
        # overlaps with the per-group batches — it reads the same immutable
        # input and writes the reserved <dataset> partition key.
        from concurrent.futures import ThreadPoolExecutor

        def _in_pool(fn, pool, *args):
            sc = df.sparkSession.sparkContext
            sc.setLocalProperty("spark.scheduler.pool", pool)
            try:
                fn(df, *args)
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)

        work = [(self._run_batch, f"fdv-batch-{i}", b)
                for i, b in enumerate(batches)]
        if want_global:
            work.append((self._run_global, "fdv-global"))
        with ThreadPoolExecutor(self.max_concurrent_batches) as ex:
            futures = [ex.submit(_in_pool, *w) for w in work]
            for f in futures:
                f.result()  # propagate the first failure
        return self.lineage.metrics(spark, self.run_id)

    # explicit read schemas: a run whose violations are empty writes a
    # partitioned dir with no data files — schema inference would fail the
    # read, turning "clean corpus" into an error (partition columns are
    # appended by the reader from the directory names)
    _VIOL_READ_SCHEMA = (
        "doc_id string, rule_id string, rule_type string, "
        "error_code string, severity string, source string, "
        "column string, detail map<string,string>, "
        "run_id string, partition_key string")
    _VERD_READ_SCHEMA = (
        "rule_id string, rows long, violations long, errors long, "
        "passed boolean, run_id string, partition_key string")

    def violations(self, spark: SparkSession) -> DataFrame:
        """This run's violations only — the ``run_id`` partition column
        survives the read, so reusing an output root across runs must not
        mix prior runs' rows into this run's pass/fail gate."""
        return (spark.read.schema(self._VIOL_READ_SCHEMA)
                .parquet(self._violations_path)
                .where(F.col("run_id") == self.run_id)
                .drop("run_id", "partition_key"))

    def verdicts(self, spark: SparkSession) -> DataFrame:
        return (spark.read.schema(self._VERD_READ_SCHEMA)
                .parquet(self._verdicts_path)
                .where(F.col("run_id") == self.run_id)
                .drop("run_id"))

    # -- internals ----------------------------------------------------------

    def _run_batch(self, df: DataFrame, batch: list[str]) -> None:
        spark = df.sparkSession
        group = F.coalesce(F.col(self.config.group_col).cast("string"),
                           F.lit(_NULL_KEY))
        # on a source-partitioned Iceberg/parquet table this filter prunes
        # files — a resumed run never re-scans completed partitions
        sub = df.where(group.isin(batch))
        t0 = time.perf_counter()
        res = self._row_engine.validate(sub)
        self._write(res, dataset_level=False)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        self._mark(spark, res, batch, wall_ms, dataset_level=False)
        res.unpersist()

    def _run_global(self, df: DataFrame) -> None:
        spark = df.sparkSession
        t0 = time.perf_counter()
        res = self._global_engine.validate(df)
        self._write(res, dataset_level=True)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        self._mark(spark, res, [_DATASET_KEY], wall_ms, dataset_level=True)
        res.unpersist()

    def _write(self, res: ValidationResult, dataset_level: bool) -> None:
        """Idempotent batch output: dynamic partition overwrite on
        (run_id, partition_key) replaces a re-run batch's files instead of
        duplicating them. The dataset batch writes under the reserved
        ``<dataset>`` key so it can never clobber per-group batches."""
        pkey = (F.lit(_DATASET_KEY) if dataset_level
                else F.coalesce(F.col("source"), F.lit(_NULL_KEY)))
        # write-scoped dynamic overwrite (round-5 review batch 8): the
        # old session-level conf flip changed overwrite semantics for
        # every other partitioned write on the shared session
        (res.violations
         .withColumn("run_id", F.lit(self.run_id))
         .withColumn("partition_key", pkey)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("run_id", "partition_key")
         .parquet(self._violations_path))
        verd = res.verdicts.withColumn("run_id", F.lit(self.run_id))
        if dataset_level:
            verd = verd.withColumn("partition_key", F.lit(_DATASET_KEY))
        (verd.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("run_id", "partition_key")
         .parquet(self._verdicts_path))

    def _mark(self, spark: SparkSession, res: ValidationResult,
              batch: list[str], wall_ms: int, dataset_level: bool) -> None:
        now = time.time()
        verd = res.verdicts.collect()  # tiny: groups × rules
        records = []
        seen = set()
        if dataset_level:
            # aggregate per rule across groups → one metrics row per rule
            by_rule: dict[str, list] = {}
            for row in verd:
                a = by_rule.setdefault(row["rule_id"], [0, 0, 0, True])
                a[0] += row["rows"] or 0
                a[1] += row["violations"]
                a[2] += row["errors"]
                a[3] = a[3] and row["passed"]
            for rid, (rows, viol, errs, passed) in sorted(by_rule.items()):
                records.append((self.run_id, _DATASET_KEY, rid, rows, viol,
                                errs, passed, wall_ms, now))
            seen.add(_DATASET_KEY)
        else:
            for row in verd:
                key = row["partition_key"]
                if key not in batch:
                    continue
                records.append((self.run_id, key, row["rule_id"], row["rows"],
                                row["violations"], row["errors"],
                                row["passed"], wall_ms, now))
                seen.add(key)
        # groups in the batch with zero rows after scoping still complete
        for key in batch:
            if key not in seen:
                records.append((self.run_id, key, None, 0, 0, 0, True,
                                wall_ms, now))
        with self._lineage_lock:
            self.lineage.append(spark, records)


def _chunks(seq: list, n: int):
    for i in range(0, len(seq), n):
        yield seq[i:i + n]


def regression_report(metrics: DataFrame, current_run: str,
                      baseline_run: str | None = None,
                      max_abs_increase: float = 0.0,
                      max_rel_increase: float = 0.0,
                      per_partition: bool = False,
                      min_rows: int = 0) -> DataFrame:
    """Run-over-run metric regression gate: flag rules whose violation
    RATE in ``current_run`` exceeds their ``baseline_run`` rate by more
    than the allowed slack — the continuous-validation alarm that turns
    the lineage table's per-run metrics into a deploy gate (no reference
    analog; the reference's single request has no run history).

    ``metrics`` is a lineage-schema DataFrame (``LineageStore.read`` or
    ``PyIcebergLineageStore`` scan). ``baseline_run`` defaults to the most
    recently completed run other than ``current_run`` (one tiny-aggregate
    lookup on the metadata-scale lineage table). Slack per rule:
    ``base_rate + max(max_abs_increase, base_rate × max_rel_increase)``.

    Lanes: ``rateJump`` (rate above slack), ``newRule`` (rule has no
    baseline row — flagged informationally so a silently-added rule never
    hides a regression). Rules with fewer than ``min_rows`` current rows
    are skipped (cold partitions produce noisy rates). Everything runs on
    the |runs × partitions × rules|-row lineage frame — metadata scale,
    never the data.

    Returns (rule_id[, partition_key], base_rate, cur_rate, allowed,
    rows_base, rows_cur, check) for regressed rules only; empty = gate
    passes.
    """
    m = metrics.where(F.col("rule_id").isNotNull())
    if baseline_run is None:
        prev = (m.where(F.col("run_id") != current_run)
                 .groupBy("run_id").agg(F.max("completed_at").alias("_t"))
                 .orderBy(F.col("_t").desc()).limit(1).collect())
        if not prev:
            raise ValueError(
                "regression_report: no baseline run in the lineage table")
        baseline_run = prev[0]["run_id"]
    keys = ["rule_id"] + (["partition_key"] if per_partition else [])

    def _rates(run_id: str, side: str) -> DataFrame:
        return (m.where(F.col("run_id") == run_id)
                 .groupBy(*keys)
                 .agg(F.sum("rows").alias(f"rows_{side}"),
                      F.sum("violations").alias(f"viol_{side}")))

    cur = _rates(current_run, "cur")
    base = _rates(baseline_run, "base")
    joined = cur.join(base, on=keys, how="left")
    base_rate = F.when(F.col("rows_base") > 0,
                       F.col("viol_base") / F.col("rows_base"))
    cur_rate = F.when(F.col("rows_cur") > 0,
                      F.col("viol_cur") / F.col("rows_cur")) \
                .otherwise(F.lit(0.0))
    allowed = base_rate + F.greatest(
        F.lit(float(max_abs_increase)),
        base_rate * F.lit(float(max_rel_increase)))
    new_rule = F.col("rows_base").isNull()
    regressed = new_rule | base_rate.isNull() | (cur_rate > allowed)
    return (joined
            .where(regressed & (F.col("rows_cur") >= int(min_rows)))
            .select(*keys,
                    F.round(base_rate, 6).alias("base_rate"),
                    F.round(cur_rate, 6).alias("cur_rate"),
                    F.round(allowed, 6).alias("allowed"),
                    F.coalesce(F.col("rows_base"), F.lit(0))
                     .alias("rows_base"),
                    F.col("rows_cur"),
                    F.when(new_rule, F.lit("newRule"))
                     .otherwise(F.lit("rateJump")).alias("check")))
