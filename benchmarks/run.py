"""Benchmark entry point: one workload, one seed, one timed window.

    python3 benchmarks/run.py --workload wap_gate --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the workload's inputs from the
seed (cached and verified under ``.bench_work/cache``), sets up once
untimed, runs two untimed operations, then runs operations back to back
until ``--seconds`` have passed, checking every output, and last times
three more set-ups. Human-readable lines come first; the last line of stdout is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also
writes every span to ``.bench_work/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
import traceback

from harness import (PACKAGE, ROOT, WORK, HostContext, Tracer,
                     committed_heap_mb, live_heap_mb, median, peak_rss_mb,
                     prepare_env, shutdown, start_session, tail)

SETUPS = 3   # setup_s is the median of this many set-ups in one run
WARMUPS = 2  # untimed operations between the window's set-up and the window

# (name, unit) of the end-to-end metrics, in BENCHMARK.json order
END_TO_END = [("setup_s", "s"), ("op_s_p50", "s"), ("peak_mem_mb", "MB")]
# the workload-specific name each figure carries in the docs; rows_per_s
# (input rows / op_s_p50) is on the info line
ALIASES = {"snapshot_validate": {"rows_per_s": "scan_rows_per_s"},
           "wap_gate": {"op_s_p50": "gate_s_p50", "op_s_tail": "gate_s_tail"}}

# per-layer metrics every workload exercises: (name, unit, span, attribute)
# — attribute None reads the span's duration, else a number it recorded
PER_LAYER = [
    ("session.start_s", "s", "session.start", None),
    ("iceberg.register_s", "s", "iceberg.register", None),
    ("iceberg.read_plan_s", "s", "iceberg.read_plan", None),
    ("iceberg.files_planned", "count", "iceberg.read_plan", "files"),
    ("compiler.compile_s", "s", "compiler.compile", None),
    ("compiler.predicates", "count", "compiler.compile", "predicates"),
    ("compiler.dataset_plans", "count", "compiler.compile", "dataset_plans"),
    ("engine.scan_s", "s", "engine.scan", None),
    ("engine.predicate_s", "s", "engine.predicate", None),
    ("engine.validate_s", "s", "engine.validate", None),
    ("engine.verdicts_s", "s", "engine.verdicts", None),
    ("report.passed_s", "s", "report.passed", None),
    ("report.response_s", "s", "report.response", None),
    ("spark.jobs", "count", "op", "spark.jobs"),
    ("spark.stages", "count", "op", "spark.stages"),
    ("spark.tasks", "count", "op", "spark.tasks"),
] + [(f"plans.{rid}.{kind}", unit, f"plans.{rid}", attr)
     for rid in ("UNQ-001", "REF-001", "CRD-001")
     for kind, unit, attr in (("s", "s", None), ("rows", "count", "rows"))]
# layers only some workloads exercise: reported on the info line
OPTIONAL_LAYERS = [
    ("iceberg.append_s", "s", "iceberg.append", None),
    ("iceberg.write_amp", "ratio", "iceberg.append", "write_amp"),
    ("iceberg.ref_commit_s", "s", "iceberg.ref_commit", None),
    ("sink.audit_s", "s", "sink.audit", None),
    ("sink.staged_count_s", "s", "sink.staged_count", None),
    ("plans.DRF-001.s", "s", "plans.DRF-001", None),
    ("plans.DRF-001.rows", "count", "plans.DRF-001", "rows"),
    ("lineage.run_s", "s", "lineage.run", None),
    ("lineage.batch_wall_ms", "ms", "lineage.run", "batch_wall_ms"),
    ("lineage.scan_amplification", "ratio", "lineage.run",
     "scan_amplification"),
    ("lineage.output_bytes", "bytes", "lineage.run", "output_bytes"),
]
# figures derived per operation from several spans, plus table state
DERIVED = [("engine.predicate_survivor_ratio", "ratio"),
           ("engine.unattributed_s", "s"),
           ("iceberg.metadata_bytes", "bytes"), ("iceberg.manifests", "count")]


def _per_op(tr: Tracer, name: str, attr: str | None) -> list[float]:
    """The figure of each timed operation's span ``name`` — falling back
    to set-up spans for layers only set-up calls (session, registration,
    compile)."""
    spans = [s for s in tr.spans if s.name == name]
    out = []
    for s in ([s for s in spans if s.op.startswith("op-")]
              or [s for s in spans if s.op.startswith("setup-")]):
        if attr is None:
            out.append(s.end - s.start)
        elif isinstance(s.attrs.get(attr), list):
            out.extend(s.attrs[attr])
        elif attr in s.attrs:
            out.append(s.attrs[attr])
    return out


def _derived(tr: Tracer) -> dict[str, list[float]]:
    ops: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        if s.op.startswith("op-"):
            d = ops.setdefault(s.op, {})
            d[s.name] = s.end - s.start
            for k, v in s.attrs.items():
                d[f"{s.name}:{k}"] = v
    survivors, unattributed = [], []
    for d in ops.values():
        if "engine.scan:rows" not in d:
            continue
        survivors.append(d["engine.predicate_filter:survivors"]
                         / d["engine.scan:rows"])
        parts = (d["engine.predicate"] + d["engine.verdicts"]
                 + sum(v for k, v in d.items()
                       if k.startswith("plans.") and ":" not in k))
        unattributed.append(d["engine.validate"] - parts)
    return {"engine.predicate_survivor_ratio": survivors,
            "engine.unattributed_s": unattributed}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["snapshot_validate", "wap_gate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"benchmark: no {PACKAGE} package under {ROOT}; run from the "
              f"root of a full checkout", file=sys.stderr)
        return 2
    prepare_env()
    shutil.rmtree(WORK / "tables", ignore_errors=True)
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    host = HostContext()
    tr = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        jvm_launch_s = time.perf_counter() - t0

        from corpus import Cache
        cache = Cache(spark)
        t0 = time.perf_counter()
        wl.datagen(cache, args.seed)
        datagen_s = time.perf_counter() - t0

        def set_up(label: str) -> float:
            """A fresh session and workload state; returns its seconds.
            Stopping the previous session is teardown, not set-up."""
            nonlocal spark
            spark.stop()
            tr.spark = None
            t0 = time.perf_counter()
            with tr.span("session.start", label):
                spark = start_session()
            tr.spark = spark
            wl.setup(spark, tr, label)
            return time.perf_counter() - t0

        # operations on a fresh JVM speed up over the first four or five
        # (the first takes about twice as long); keep two out of the
        # window, each followed by the full collection that follows every
        # timed operation, and let the median absorb the rest
        t0 = time.perf_counter()
        set_up("warmup")
        for _ in range(WARMUPS):
            wl.warmup(tr)
            live_heap_mb(spark)
        warmup_s = time.perf_counter() - t0

        lat, heap, errors = [], [], []
        start = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - start < args.seconds:
            i += 1
            try:
                with tr.span("op", f"op-{i}"):
                    secs, err = wl.op(i, tr)
                if tr.enabled and not err:
                    wl.breakdown(i, tr)
            except Exception:           # a raising operation is a failure
                secs, err = None, traceback.format_exc(limit=3)
            if err:
                errors.append(err)
                continue
            lat.append(secs)
            heap.append(live_heap_mb(spark))
        attempted = i
        final_err = wl.finish()
        # resident memory with the pre-touched heap counted by its
        # largest live set after an operation
        rss, committed = peak_rss_mb(), committed_heap_mb(spark)
        mem = rss - committed + max(heap, default=0)
        state = wl.table_state() if tr.enabled else {}
        # set-ups are timed last, on a JVM the window has warmed: timed
        # between input generation and the window they rose by a third
        # whenever other tenants kept the host busy
        setups = [set_up(f"setup-{k}") for k in range(SETUPS)]
        context = host.report(spark)
    finally:
        shutdown(spark)

    # every operation failed: no timing exists to report
    if not lat:
        print(json.dumps({"errors": errors[:3]}), file=sys.stderr)
        return 1
    e2e = {"setup_s": median(setups), "op_s_p50": median(lat),
           "peak_mem_mb": mem}
    tl = tail(lat)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(lat), "op_s": lat,
        "rows_per_s": wl.rows_per_op / median(lat),
        "peak_rss_mb": rss, "committed_heap_mb": committed,
        "live_heap_mb": heap, "attempted": attempted,
        "failed": len(errors),
        "error_rate": len(errors) / attempted,
        "op_s_tail": ({"percentile": tl[0], "value": tl[1],
                       "samples": len(lat)} if tl else
                      f"n/a: {len(lat)} samples, needs 11"),
        "aliases": ALIASES[args.workload],
        "setups_s": setups, "jvm_launch_s": jvm_launch_s,
        "datagen_s": datagen_s,
        "datagen_cache": {"hits": cache.hits, "misses": cache.misses},
        "warmup_s": warmup_s, "host": context,
        "errors": errors[:3] + ([final_err] if final_err else []),
    }
    if tr.enabled:
        # the traced run's own end-to-end figures, beside the untraced
        # run's, show the tracing overhead
        info["traced_end_to_end"] = e2e
        layers = {name: (_per_op(tr, span, attr), unit)
                  for name, unit, span, attr in PER_LAYER}
        derived = _derived(tr)
        for name, unit in DERIVED:
            vals = derived.get(name, [state.get(name)])
            layers[name] = (vals, unit)
        metrics = {name: {"value": median(vals), "unit": unit}
                   for name, (vals, unit) in layers.items()}
        optional = {name: (_per_op(tr, span, attr), unit)
                    for name, unit, span, attr in OPTIONAL_LAYERS}
        info["workload_layers"] = {
            name: {"value": median(vals), "unit": unit}
            for name, (vals, unit) in optional.items() if vals}
        info["self_s"] = {k: v["median_self_s"]
                          for k, v in tr.summary().items()}
        trace_path = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        tr.write(trace_path)
        info["trace_file"] = str(trace_path.relative_to(ROOT))
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit in END_TO_END}

    for name, m in metrics.items():
        print(f"{args.workload:18s} {name:34s} {m['value']:>14.6g} "
              f"{m['unit']}")
    print(json.dumps(info, default=str))
    print(json.dumps({"correct": not errors and final_err is None,
                      "attempted": attempted, "failed": len(errors),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
