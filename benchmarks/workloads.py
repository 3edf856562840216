"""The workloads. Each is a closed loop with one client: the next
operation starts only after the previous one finished.

A workload builds its inputs from the seed (``datagen``), sets up a fresh
session-bound state (``setup``, repeated by the runner), runs untimed
``warmup`` operations, then timed operations (``op``). Every
operation checks its own outputs; ``finish`` checks what only the whole
run can show. With tracing on, ``op`` records spans around each call into
a layer and ``breakdown`` re-runs the operation's input through each layer
separately, materializing each layer's output on its own.
"""

from __future__ import annotations

import shutil
import time
from functools import reduce

from pyspark.sql import functions as F

from corpus import Cache, batch_pool, corpus, dir_bytes, expected_counts
from harness import WORK, Tracer, cores
from fhir_data_validation_spark import ValidationEngine
from fhir_data_validation_spark.engine import predicate_violations
from fhir_data_validation_spark.lineage import ResumableRun
from fhir_data_validation_spark.rulesets import default_token_ruleset
from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
from fhir_data_validation_spark.sources.synth import sources_dim
from fhir_data_validation_spark.streaming.sink import audit_and_publish

MAX_ERRORS = 100


def _metadata_file(table_dir: str):
    meta = WORK / table_dir / "metadata"
    version = (meta / "version-hint.text").read_text().strip()
    return meta / f"v{version}.metadata.json"


def engine_breakdown(tr: Tracer, op: str, engine: ValidationEngine,
                     df) -> None:
    """Each engine layer over ``df``, materialized separately: the fused
    predicate filter and pass, every dataset plan, the full validate with
    its verdicts, then the report surface."""
    plan = engine.compile(df)
    with tr.span("engine.scan", op) as a:
        a["rows"] = df.count()
    any_cond = reduce(lambda x, y: x | y,
                      [p.condition for p in plan.predicates])
    with tr.span("engine.predicate_filter", op) as a:
        a["survivors"] = df.where(any_cond).count()
    with tr.span("engine.predicate", op) as a:
        a["rows"] = predicate_violations(df, plan).count()
    for dp in plan.dataset_plans:
        with tr.span(f"plans.{dp.rule.id}", op) as a:
            a["rows"] = dp.execute(df, plan).count()
    with tr.span("engine.validate", op):
        with tr.span("engine.validate_call", op):
            res = engine.validate(df)
        with tr.span("engine.violations", op):
            res.violations.count()
        with tr.span("engine.verdicts", op):
            res.verdicts.count()
    with tr.span("report.passed", op):
        res.passed()
    with tr.span("report.response", op):
        res.response(max_errors=MAX_ERRORS)
    res.unpersist()


class Workload:
    name = ""
    rows_per_op = 0

    def __init__(self):
        self.spark = None
        self.table: PyIcebergTable | None = None
        self.table_dir = ""

    def datagen(self, cache: Cache, seed: int) -> None:
        raise NotImplementedError

    def setup(self, spark, tr: Tracer, op: str) -> None:
        raise NotImplementedError

    def warmup(self, tr: Tracer) -> None:
        raise NotImplementedError

    def op(self, i: int, tr: Tracer) -> tuple[float, str | None]:
        """Run operation ``i``; returns (seconds, error or None)."""
        raise NotImplementedError

    def breakdown(self, i: int, tr: Tracer) -> None:
        pass

    def finish(self) -> str | None:
        return None

    def table_state(self) -> dict:
        """Size of the current metadata file and the current snapshot's
        manifest count."""
        return {"iceberg.metadata_bytes":
                _metadata_file(self.table_dir).stat().st_size,
                "iceberg.manifests": self.table.manifests().count()}


class SnapshotValidate(Workload):
    """One-shot validate of a snapshot-pinned Iceberg read of the
    seeded-corruption corpus, materializing violations and verdicts."""

    name = "snapshot_validate"
    rows_per_op = 10_000

    def datagen(self, cache, seed):
        self.inputs = corpus(cache, seed, self.rows_per_op)
        self.expected = expected_counts(self.rows_per_op)

    def setup(self, spark, tr, op):
        self.spark = spark
        # a fresh table over the cached corpus, its files registered in
        # place (add_files, no copy)
        src = self.inputs["corpus"]
        self.table_dir = f"tables/{self.name}-{op}"
        loc = WORK / self.table_dir
        with tr.span("iceberg.register", op):
            self.table = PyIcebergTable.create(
                spark, str(loc), spark.read.parquet(src).schema)
            self.table.add_files(src)
        self.snapshot = self.table.current_snapshot_id()
        self.dims = {"sources_dim": sources_dim(spark),
                     "stats_baseline":
                     spark.read.parquet(self.inputs["baseline"])}
        self.ruleset = default_token_ruleset(with_drift=True)
        self.engine = ValidationEngine(self.ruleset, dims=self.dims)
        with tr.span("compiler.compile", op) as a:
            plan = self.engine.compile(self._read(tr, op))
        a["predicates"] = len(plan.predicates)
        a["dataset_plans"] = len(plan.dataset_plans)

    def _read(self, tr: Tracer, op: str):
        with tr.span("iceberg.read_plan", op) as a:
            df = self.table.read(self.snapshot)
        if tr.enabled:
            a["files"] = len(df.inputFiles())
        return df

    def _validate(self, tr, op) -> tuple[float, dict]:
        t0 = time.perf_counter()
        res = self.engine.validate(self._read(tr, op))
        counts = {r["rule_id"]: r["count"] for r in
                  res.violations.groupBy("rule_id").count().collect()}
        res.verdicts.collect()
        res.unpersist()
        return time.perf_counter() - t0, counts

    def warmup(self, tr):
        _, counts = self._validate(tr, "warmup")
        # drift is not banded: every later operation must reproduce the
        # warm-up's verdict on the same snapshot
        self.want = dict(self.expected,
                         **{"DRF-001": counts.get("DRF-001", 0)})

    def op(self, i, tr):
        secs, counts = self._validate(tr, f"op-{i}")
        got = {rid: counts.get(rid, 0) for rid in self.want}
        extra = set(counts) - set(self.want)
        if got != self.want or extra:
            return secs, (f"violation counts {got} (+{sorted(extra)}) != "
                          f"{self.want}")
        return secs, None

    def breakdown(self, i, tr):
        op = f"op-{i}"
        df = self._read(tr, op)
        engine_breakdown(tr, op, self.engine, df)
        self._lineage(tr, op, df)

    def _lineage(self, tr, op, df) -> None:
        """The batch-job path over the same snapshot: ``ResumableRun``
        with up to ``min(4, nproc)`` concurrent FAIR batches, writing
        violations, verdicts and lineage to a fresh output root."""
        out = WORK / "jobs" / op
        shutil.rmtree(out, ignore_errors=True)
        run = ResumableRun(self.ruleset, str(out), dims=self.dims,
                           max_concurrent_batches=min(4, cores()))
        with tr.span("lineage.run", op) as figures:
            rows = run.run(df).collect()
        # every marker of one batch carries that batch's wall_ms and
        # completion time; a batch scans the rows of its partitions (the
        # <dataset> batch: all of them)
        scanned: dict[str, int] = {}
        for r in rows:
            key = r["partition_key"]
            scanned[key] = max(scanned.get(key, 0), r["rows"] or 0)
        figures["batch_wall_ms"] = [w for w, _ in sorted(
            {(r["wall_ms"], r["completed_at"]) for r in rows})]
        figures["scan_amplification"] = (sum(scanned.values())
                                         / self.rows_per_op)
        figures["output_bytes"] = dir_bytes(out)
        got = run.violations(self.spark).count()
        shutil.rmtree(out, ignore_errors=True)
        if got != sum(self.want.values()):
            raise RuntimeError(f"ResumableRun wrote {got} violations, "
                               f"one-shot validate {sum(self.want.values())}")


class WapGate(Workload):
    """Write-audit-publish per cycle: stage a batch on a branch, audit the
    staged rows only, publish or drop, render the response payload."""

    name = "wap_gate"
    batch_rows = 2_000
    rows_per_op = batch_rows
    pool = 16          # distinct pre-generated batches, reused round-robin
    dirty_every = 4    # batch i is dirty when i % 4 == 3

    def datagen(self, cache, seed):
        self.pool_path = batch_pool(cache, seed, self.batch_rows, self.pool,
                                    self.dirty_every)

    def setup(self, spark, tr, op):
        self.spark = spark
        batches = spark.read.parquet(self.pool_path)
        self.batches = batches
        schema = batches.drop("batch").schema
        self.table_dir = f"tables/{self.name}-{op}"
        loc = WORK / self.table_dir
        with tr.span("iceberg.register", op):
            self.table = PyIcebergTable.create(spark, str(loc), schema)
            if tr.enabled:
                self._trace_ref_commits(tr)
            self.label = op
            self.table.branch("staged")
        # default token rule set without drift: a clean batch passes
        # exactly, a dirty one fails exactly
        self.engine = ValidationEngine(
            default_token_ruleset(),
            dims={"sources_dim": sources_dim(spark)})
        with tr.span("compiler.compile", op) as a:
            plan = self.engine.compile(self._batch(0))
        a["predicates"] = len(plan.predicates)
        a["dataset_plans"] = len(plan.dataset_plans)
        self.published_rows = 0
        self.cycles = 0
        self.last = None

    def _trace_ref_commits(self, tr: Tracer) -> None:
        """Wrap this table's ref commits in ``iceberg.ref_commit`` spans,
        so the commits the gate makes get spans of their own inside
        ``sink.audit`` and the audit's self time excludes them."""
        for name in ("branch", "fast_forward", "drop_branch"):
            def traced(*args, _call=getattr(self.table, name), **kwargs):
                with tr.span("iceberg.ref_commit", self.label):
                    return _call(*args, **kwargs)
            setattr(self.table, name, traced)

    def _batch(self, i: int):
        return (self.batches.where(F.col("batch") == i % self.pool)
                .drop("batch"))

    def _cycle(self, tr, op) -> tuple[float, str | None]:
        # warm-up and timed cycles share one sequence of batches
        i = self.cycles
        self.cycles += 1
        self.label = op
        df = self._batch(i)
        dirty = i % self.dirty_every == self.dirty_every - 1
        try:
            main_before = self.table.current_snapshot_id()
        except ValueError:          # nothing published yet
            main_before = None
        loc = WORK / self.table_dir
        before = dir_bytes(loc) if tr.enabled else 0
        t0 = time.perf_counter()
        with tr.span("iceberg.append", op) as a:
            head = self.table.append(df, branch="staged")
        with tr.span("sink.audit", op):
            out = audit_and_publish(self.table, self.engine, "staged",
                                    recreate_on_drop=True)
        action = out["action"]
        res = out["result"]
        with tr.span("report.response", op):
            resp = res.response(max_errors=MAX_ERRORS)
        secs = time.perf_counter() - t0
        res.unpersist()
        if tr.enabled:
            a["write_amp"] = ((dir_bytes(loc) - before)
                              / dir_bytes(f"{self.pool_path}/batch="
                                          f"{i % self.pool}"))
        self.last = (main_before, head)
        if action == "published":
            self.published_rows += self.batch_rows
        want = "dropped" if dirty else "published"
        if (action, out["staged_rows"], resp["isValid"]) != \
                (want, self.batch_rows, not dirty):
            return secs, (f"batch {i}: {action}/{out['staged_rows']} rows/"
                          f"isValid={resp['isValid']}, want {want}")
        return secs, None

    def warmup(self, tr):
        secs, err = self._cycle(tr, "warmup")
        if err:
            raise RuntimeError(f"warm-up cycle failed: {err}")

    def op(self, i, tr):
        return self._cycle(tr, f"op-{i}")

    def breakdown(self, i, tr):
        op = f"op-{i}"
        main_before, head = self.last
        with tr.span("iceberg.read_plan", op) as a:
            staged = (self.table.read(head) if main_before is None
                      else self.table.incremental(main_before, head))
        a["files"] = len(staged.inputFiles())
        with tr.span("sink.staged_count", op):
            staged.count()
        engine_breakdown(tr, op, self.engine, staged)

    def finish(self):
        rows = self.table.read().count()
        if rows != self.published_rows:
            return f"main holds {rows} rows, published {self.published_rows}"
        return None


WORKLOADS = {w.name: w for w in (SnapshotValidate, WapGate)}
