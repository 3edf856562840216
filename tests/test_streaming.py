"""Structured Streaming validation tests: streaming results must equal the
batch engine's on the same data (availableNow file-source micro-batches)."""

import pytest
from pyspark.sql import functions as F

from fhir_data_validation_spark import RuleSet, ValidationEngine
from fhir_data_validation_spark.errors import RuleConfigurationError
from fhir_data_validation_spark.rulesets import default_token_ruleset
from fhir_data_validation_spark.sources.synth import (dirty_token_table,
                                                      sources_dim)
from fhir_data_validation_spark.streaming import (
    validate_stream, validate_stream_foreach_batch)

N = 1000


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream") / "tokens")
    (dirty_token_table(spark, N).drop("_row_id")
     .repartition(4).write.parquet(out))
    return out


def _row_rules():
    return RuleSet(rules=tuple(
        r for r in default_token_ruleset().rules
        if r.type not in ("Unique", "Reference", "RequiredResources")
        and r.scope.kind != "first"))


def test_stream_matches_batch(spark, corpus_dir, tmp_path):
    batch_df = spark.read.parquet(corpus_dir)
    ruleset = _row_rules()
    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", 2).parquet(corpus_dir))
    viol = validate_stream(stream, ruleset)
    q = (viol.writeStream.format("memory").queryName("viols")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r["rule_id"]: r["n"] for r in
           spark.sql("SELECT rule_id, count(*) AS n FROM viols "
                     "GROUP BY rule_id").collect()}
    res = ValidationEngine(ruleset).validate(batch_df)
    want = {r["rule_id"]: r["n"] for r in
            res.violations.groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want and got  # non-empty and identical per-rule counts


def test_stream_rejects_dataset_rules(spark, corpus_dir):
    batch_df = spark.read.parquet(corpus_dir)
    stream = spark.readStream.schema(batch_df.schema).parquet(corpus_dir)
    with pytest.raises(RuleConfigurationError):
        validate_stream(stream, default_token_ruleset())


def test_foreach_batch_full_engine(spark, corpus_dir, tmp_path):
    batch_df = spark.read.parquet(corpus_dir)
    out = str(tmp_path / "out")
    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", 2).parquet(corpus_dir))
    q = validate_stream_foreach_batch(
        stream, default_token_ruleset(),
        output_root=out, dims={"sources_dim": sources_dim(spark)},
        trigger={"availableNow": True})
    q.awaitTermination(180)

    viol = spark.read.parquet(f"{out}/violations")
    # per-row rule counts equal batch; epochs recorded
    per_rule = {r["rule_id"]: r["n"] for r in
                viol.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n"))
                .collect()}
    assert per_rule["REQ-001"] == 10  # 1% of 1000 rows
    assert viol.select("epoch").distinct().count() >= 2  # real micro-batches
    verd = spark.read.parquet(f"{out}/verdicts")
    assert verd.where("rule_id = 'UNQ-001'").count() >= 1


def test_windowed_violation_rates(spark, tmp_path):
    """Watermarked windowed violation-rate monitor: streaming result equals
    the batch result of the identical aggregation."""
    from pyspark.sql import functions as F

    from fhir_data_validation_spark.model import RuleSet
    from fhir_data_validation_spark.streaming import violation_rates

    src = str(tmp_path / "ts_tokens")
    (dirty_token_table(spark, 2000).drop("_row_id")
     .withColumn("ts", F.timestamp_seconds(
         F.lit(1_700_000_000) + F.pmod(F.xxhash64("doc_id"), F.lit(600))))
     .repartition(4).write.parquet(src))
    batch_df = spark.read.parquet(src)
    rules = RuleSet.parse({"rules": [
        {"id": "REQ-T", "type": "Required", "column": "tokens"},
        {"id": "DOM-T", "type": "TokenDomain", "column": "tokens",
         "params": {"min": 0, "maxExclusive": 50257}}]})

    batch = {((r["window"]["start"], r["source"])): (r["rows"], r["REQ-T"],
                                                     r["DOM-T"])
             for r in violation_rates(batch_df, rules, "ts",
                                      "5 minutes").collect()}
    assert sum(v[1] for v in batch.values()) == 20   # 1% of 2000

    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    q = (violation_rates(stream, rules, "ts", "5 minutes")
         .writeStream.format("memory").queryName("rates")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {((r["window"]["start"], r["source"])): (r["rows"], r["REQ-T"],
                                                   r["DOM-T"])
           for r in spark.sql("SELECT * FROM rates").collect()}
    assert got == batch


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: lifetime per-group totals accumulate across
    micro-batches; final totals equal the batch counts."""
    from pyspark.sql import functions as F

    from fhir_data_validation_spark.model import RuleSet
    from fhir_data_validation_spark.streaming import running_violation_totals

    src = str(tmp_path / "sf_tokens")
    (dirty_token_table(spark, 2000).drop("_row_id")
     .repartition(4).write.parquet(src))
    batch_df = spark.read.parquet(src)
    rules = RuleSet.parse({"rules": [
        {"id": "REQ-S", "type": "Required", "column": "tokens"}]})

    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (running_violation_totals(stream, rules)
         .writeStream.format("memory").queryName("totals")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    # memory sink in update mode appends one row per (batch, group) update;
    # the LAST row per group carries the lifetime totals
    rows = spark.sql("SELECT * FROM totals").collect()
    final = {}
    for r in rows:
        cur = final.get(r["source"])
        if cur is None or r["batches_seen"] > cur["batches_seen"]:
            final[r["source"]] = r
    want_rows = {r["source"]: r["n"] for r in
                 batch_df.groupBy(F.coalesce("source", F.lit("<null>"))
                                  .alias("source"))
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
    got_rows = {k: v["rows_total"] for k, v in final.items()}
    assert got_rows == want_rows
    total_viol = sum(v["violations_total"] for v in final.values())
    assert total_viol == 20  # 1% of 2000 empty-tokens rows
    assert max(v["batches_seen"] for v in final.values()) >= 2


def test_stateful_rejects_empty_predicate_ruleset(spark):
    """A ruleset that compiles to zero per-row predicates is a configuration
    error, not an IndexError (ADVICE r1)."""
    import pytest
    from fhir_data_validation_spark.errors import RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    from fhir_data_validation_spark.streaming import running_violation_totals
    df = spark.createDataFrame([("d1", "web")], "doc_id string, source string")
    with pytest.raises(RuleConfigurationError):
        running_violation_totals(df, RuleSet(rules=()))


def test_streaming_redaction_and_line_dedup_parity(spark, tmp_path):
    """redact_docs and dedup_lines_docs are stateless projections, so they
    apply unchanged to a streaming DataFrame; the streamed output must
    equal the batch output row-for-row."""
    from fhir_data_validation_spark.pipeline import cleaning, redaction
    src = str(tmp_path / "docs")
    rows = [(i, f"line one of doc {i}\nmail a{i}@example.com\n"
                f"line one of doc {i}") for i in range(40)]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    batch.repartition(4).write.parquet(src)
    stored = spark.read.parquet(src)

    def transform(df):
        return cleaning.dedup_lines_docs(
            redaction.redact_docs(df, counts=False))

    stream = (spark.readStream.schema(stored.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (transform(stream).writeStream.format("memory")
         .queryName("clean_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: r["text"]
           for r in spark.sql("SELECT * FROM clean_out").collect()}
    want = {r["doc_id"]: r["text"] for r in transform(stored).collect()}
    assert got == want and len(got) == 40
    assert all("<EMAIL>" in t for t in got.values())
    assert all(t.count("line one") == 1 for t in got.values())


def test_streaming_chunk_windows_parity(spark, tmp_path):
    """chunk_windows is a stateless generate+projection, so it applies
    unchanged to a streaming DataFrame — the chunk stream of an arriving
    corpus equals the batch chunking of the same files."""
    from fhir_data_validation_spark.pipeline.packing import chunk_windows
    src = str(tmp_path / "toks")
    rows = [(i, [f"w{i}_{j}" for j in range(5 + (i * 7) % 40)])
            for i in range(30)]
    batch = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    batch.repartition(3).write.parquet(src)
    stored = spark.read.parquet(src)

    stream = (spark.readStream.schema(stored.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (chunk_windows(stream, window=16, stride=8)
         .writeStream.format("memory").queryName("chunk_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["doc_id"], r["chunk"]): tuple(r["chunk_tokens"])
           for r in spark.sql("SELECT * FROM chunk_out").collect()}
    want = {(r["doc_id"], r["chunk"]): tuple(r["chunk_tokens"])
            for r in chunk_windows(stored, window=16, stride=8).collect()}
    assert got == want and len(got) > 30


def test_streaming_session_windows_match_batch_sessionize(spark, tmp_path):
    """The streaming path for sessions is Spark's native session_window
    (+ watermark); its per-user session counts over a bounded stream must
    equal the batch pipeline/events.session_stats on the same files."""
    from fhir_data_validation_spark.pipeline import events as ev
    src = str(tmp_path / "events")
    batch = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
             .select("event_id", "user_id",
                     F.col("ts").cast("timestamp").alias("ts")))
    batch.repartition(4).write.parquet(src)
    stored = spark.read.parquet(src)

    stream = (spark.readStream.schema(stored.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    q = (stream.withWatermark("ts", "1 hour")
         .groupBy(F.session_window("ts", "30 minutes"), "user_id")
         .agg(F.count(F.lit(1)).alias("n"))
         .select("user_id", "n",
                 F.unix_micros(F.col("session_window.start"))
                 .alias("start_us"))
         .writeStream.format("memory").queryName("sess_out")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["user_id"], r["start_us"]): r["n"]
           for r in spark.sql("SELECT * FROM sess_out").collect()}
    want = {(r["user_id"], r["start_us"]): r["n_events"] for r in
            ev.session_stats(stored, gap_minutes=30,
                             order_cols=("event_id",)).collect()}
    assert got == want and len(got) > 100


def test_stream_sequence_shape_and_json_path_parity(spark, tmp_path):
    """The new per-row families (SequenceShape token framing, JsonPath
    VARIANT probes) are stateless predicates — they lift to streaming
    unchanged; per-rule violation counts match the batch engine."""
    rows = [
        (f"d{i}",
         ([1] if i % 3 else []) + [10 + i % 5, 11] + ([2] if i % 4 else []),
         '{"k": %d}' % (i % 120),
         "g")
        for i in range(200)
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, props string, source string")
    df.repartition(3).write.parquet(src)
    ruleset = RuleSet.parse({"rules": [
        {"id": "SEQ-S", "type": "SequenceShape", "column": "tokens",
         "params": {"bos": 1, "eos": 2}},
        {"id": "JP-S", "type": "JsonPath", "column": "props",
         "params": {"path": "$.k", "op": "range", "asType": "long",
                    "min": 0, "max": 99}},
    ]})
    batch_df = spark.read.parquet(src)
    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    viol = validate_stream(stream, ruleset)
    q = (viol.writeStream.format("memory").queryName("seqjp")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["rule_id"]: r["n"] for r in
           spark.sql("SELECT rule_id, count(*) AS n FROM seqjp "
                     "GROUP BY rule_id").collect()}
    res = ValidationEngine(ruleset).validate(batch_df)
    want = {r["rule_id"]: r["n"] for r in
            res.violations.groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want and set(got) == {"SEQ-S", "JP-S"}


def test_stateful_running_totals_tws(spark, tmp_path):
    """transformWithStateInPandas twin: same lifetime totals through the
    Spark 4 StatefulProcessor API over the RocksDB state store.
    Self-skips when protobuf (the TWS wire-protocol dep) is absent —
    this container ships without it; cluster images have it."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf; "
               "running_violation_totals covers the stateful lane here")
    from fhir_data_validation_spark.streaming import \
        running_violation_totals_tws

    src = str(tmp_path / "sf_tokens")
    (dirty_token_table(spark, 2000).drop("_row_id")
     .repartition(4).write.parquet(src))
    batch_df = spark.read.parquet(src)
    rules = RuleSet.parse({"rules": [
        {"id": "REQ-S", "type": "Required", "column": "tokens"}]})

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                          None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        stream = (spark.readStream.schema(batch_df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (running_violation_totals_tws(stream, rules)
             .writeStream.format("memory").queryName("totals_tws")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck_tws"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)

    rows = spark.sql("SELECT * FROM totals_tws").collect()
    final = {}
    for r in rows:
        cur = final.get(r["source"])
        if cur is None or r["batches_seen"] > cur["batches_seen"]:
            final[r["source"]] = r
    want_rows = {r["source"]: r["n"] for r in
                 batch_df.groupBy(F.coalesce("source", F.lit("<null>"))
                                  .alias("source"))
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {k: v["rows_total"] for k, v in final.items()} == want_rows
    assert sum(v["violations_total"] for v in final.values()) == 20
    assert max(v["batches_seen"] for v in final.values()) >= 2


def test_iceberg_stream_sink_and_monitor_loop(spark, tmp_path):
    """The continuous loop end-to-end: a file-source stream appends into
    a PyIcebergTable via foreachBatch (one snapshot per micro-batch,
    replay-guarded), and SnapshotMonitor validates exactly the appended
    delta."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import (IcebergStreamSink,
                                                      SnapshotMonitor,
                                                      write_stream_to_table)

    src = str(tmp_path / "in")
    batch1 = spark.createDataFrame(
        [("d1", 3, "web"), ("d2", 0, "web")],   # d2 violates n_tok >= 1
        "doc_id string, n_tok int, source string")
    batch1.write.parquet(src)

    table = PyIcebergTable.create(spark, str(tmp_path / "tbl"),
                                  batch1.schema)
    engine = ValidationEngine(
        RuleSet.parse({"rules": [
            {"id": "R1", "type": "Range", "column": "n_tok",
             "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    monitor = SnapshotMonitor(table, engine,
                              from_snapshot=SnapshotMonitor.GENESIS)

    stream = spark.readStream.schema(batch1.schema).parquet(src)
    q = write_stream_to_table(stream, table,
                              str(tmp_path / "ckpt"), name="t")
    q.awaitTermination(120)
    assert table.read().count() == 2
    sid, res = monitor.poll_once()
    assert res.violations.count() == 1

    # second file -> second micro-batch -> ONE new snapshot; the monitor
    # sees only the delta
    spark.createDataFrame([("d3", 5, "web")], batch1.schema) \
        .write.mode("append").parquet(src)
    q2 = write_stream_to_table(
        spark.readStream.schema(batch1.schema).parquet(src),
        table, str(tmp_path / "ckpt"), name="t")
    q2.awaitTermination(120)
    ops = [r["operation"] for r in table.snapshots().collect()]
    assert ops == ["append", "append"]
    sid2, res2 = monitor.poll_once()
    assert sid2 != sid
    assert res2.violations.count() == 0         # d3 is clean

    # replay guard: re-invoking the sink with an already-committed epoch
    # must not double-append
    sink = IcebergStreamSink(table, name="t")
    last = sink.last_epoch()
    sink(batch1, last)                           # replayed epoch: skipped
    assert table.read().count() == 3
    sink(spark.createDataFrame([("d4", 9, "web")], batch1.schema),
         last + 1)                               # genuinely new epoch
    assert table.read().count() == 4
    # the epoch marker rides INSIDE the commit's snapshot summary — atomic
    # with the data, so a crash between "commit" and "record epoch" cannot
    # exist (regression: a sidecar guard written after the commit
    # double-appended on a crash in between)
    assert sink.last_epoch() == last + 1
    marks = [s["summary"].get("sink-t-epoch")
             for s in table._load_meta()["snapshots"]]
    assert str(last + 1) in marks
    # a crash RIGHT AFTER the table commit leaves the marker in place:
    # a replay of that same epoch is skipped purely from table metadata
    sink(spark.createDataFrame([("d5", 1, "web")], batch1.schema),
         last + 1)
    assert table.read().count() == 4
    # the guard survives the maintenance lifecycle: compact + expire
    # delete the epoch-marked SNAPSHOTS (their rows live on in the kept
    # one) but the table PROPERTY carries forward — a fresh sink instance
    # (fresh process after the maintenance job) must still skip the replay
    table.compact()
    table.expire_snapshots(keep_last=1)
    sink2 = IcebergStreamSink(table, name="t")
    assert sink2.last_epoch() == last + 1
    sink2(spark.createDataFrame([("d6", 2, "web")], batch1.schema),
          last + 1)                              # replay after maintenance
    assert table.read().count() == 4


def test_drift_stream_monitor_and_alert(spark, tmp_path):
    """Continuous drift: each micro-batch's distribution scored against the
    pinned baseline; in-band batch scores low, a shifted batch trips the
    psi_max alert exactly once; the logged epoch statistic equals
    batch_drift over the same file (streaming = batch parity)."""
    from fhir_data_validation_spark.stats import histogram
    from fhir_data_validation_spark.streaming import (
        batch_drift, drift_stream_foreach_batch)

    base = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 100).cast("double").alias("value"))
    baseline = (histogram(base, "value", 64.0)
                .select(F.col("group").alias("source"), "bucket", "cnt")
                .persist())
    baseline.count()

    corpus = str(tmp_path / "stream_in")
    base.coalesce(1).write.mode("append").parquet(corpus)           # in-band
    (spark.range(2000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % 100) + 1000.0).alias("value"))              # shifted
     .coalesce(1).write.mode("append").parquet(corpus))

    alerts = []
    out = str(tmp_path / "drift_out")
    stream = (spark.readStream.schema(base.schema)
              .option("maxFilesPerTrigger", 1).parquet(corpus))
    q = drift_stream_foreach_batch(
        stream, baseline, "value", out, psi_max=0.5,
        on_alert=lambda e, rows: alerts.append((e, rows)),
        trigger={"availableNow": True})
    q.awaitTermination(120)

    log = spark.read.parquet(f"{out}/drift").collect()
    assert len(log) == 2                    # one stat row per epoch
    lo, hi = sorted(r["psi"] for r in log)
    assert lo < 0.1 and hi > 0.5
    assert len(alerts) == 1
    assert alerts[0][1][0]["psi"] == hi

    # streaming epoch == batch_drift over the same data
    shifted = spark.read.parquet(corpus).where(F.col("value") >= 1000)
    bd = batch_drift(shifted, baseline, "value").collect()[0]
    assert abs(bd["psi"] - hi) < 1e-9
    baseline.unpersist()


def test_streaming_wap_stage_audit_publish(spark, tmp_path):
    """Streaming write-audit-publish: micro-batches stage on a BRANCH
    (readers of main see nothing), audit_and_publish validates ONLY the
    staged delta and fast-forwards on pass / drops on fail."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import (audit_and_publish,
                                                      write_stream_to_table)

    schema = "doc_id string, n_tok int, source string"
    base = spark.createDataFrame([("d0", 7, "web")], schema)
    table = PyIcebergTable.create(spark, str(tmp_path / "tbl"),
                                  base.schema)
    table.append(base.coalesce(1))
    engine = ValidationEngine(
        RuleSet.parse({"rules": [
            {"id": "R1", "type": "Range", "column": "n_tok",
             "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))

    # 1. GOOD batch streams onto the branch -> invisible -> published
    src1 = str(tmp_path / "in1")
    spark.createDataFrame([("d1", 3, "web"), ("d2", 5, "book")],
                          schema).write.parquet(src1)
    table.branch("staged")
    q = write_stream_to_table(
        spark.readStream.schema(base.schema).parquet(src1), table,
        str(tmp_path / "ck1"), name="wap", branch="staged")
    q.awaitTermination(120)
    assert table.read().count() == 1            # main untouched
    gate = audit_and_publish(table, engine, "staged")
    assert gate["passed"] and gate["action"] == "published"
    assert gate["staged_rows"] == 2             # audited ONLY the delta
    assert table.read().count() == 3

    # 2. BAD batch streams onto a fresh branch -> dropped, main intact
    src2 = str(tmp_path / "in2")
    spark.createDataFrame([("dX", 0, "web")], schema).write.parquet(src2)
    table.branch("staged2")
    q2 = write_stream_to_table(
        spark.readStream.schema(base.schema).parquet(src2), table,
        str(tmp_path / "ck2"), name="wap2", branch="staged2")
    q2.awaitTermination(120)
    gate2 = audit_and_publish(table, engine, "staged2")
    assert not gate2["passed"] and gate2["action"] == "dropped"
    assert gate2["result"].violations.count() == 1
    assert table.read().count() == 3
    assert "staged2" not in table._load_meta()["refs"]

    # branch staging rejects upsert mode (snapshot-scoped row delta)
    from fhir_data_validation_spark.streaming import IcebergStreamSink
    with pytest.raises(ValueError, match="append mode only"):
        IcebergStreamSink(table, mode="upsert", key="doc_id",
                          branch="staged3")


def test_audit_recreate_on_drop_keeps_stream_alive(spark, tmp_path):
    """A continuous staging stream survives a failing audit when
    recreate_on_drop=True: the branch is re-created (empty, at main) so
    the sink's next micro-batch has a ref to commit to; the failed
    batch's rows are gone."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import audit_and_publish
    from fhir_data_validation_spark.streaming.sink import IcebergStreamSink

    schema = "doc_id string, n_tok int, source string"
    table = PyIcebergTable.create(
        spark, str(tmp_path / "tbl"),
        spark.createDataFrame([], schema).schema)
    table.append(spark.createDataFrame([("d0", 7, "web")], schema))
    engine = ValidationEngine(
        RuleSet.parse({"rules": [
            {"id": "R1", "type": "Range", "column": "n_tok",
             "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    table.branch("staged")
    sink = IcebergStreamSink(table, "gate", branch="staged")
    # epoch 0 stages a BAD batch (n_tok=0 violates min=1)
    sink(spark.createDataFrame([("bad", 0, "web")], schema), 0)
    rep = audit_and_publish(table, engine, "staged",
                            recreate_on_drop=True)
    assert rep["passed"] is False and rep["action"] == "dropped"
    assert rep["staged_rows"] == 1
    # the branch exists again — the stream's next epoch commits cleanly
    sink(spark.createDataFrame([("good", 3, "web")], schema), 1)
    rep2 = audit_and_publish(table, engine, "staged")
    assert rep2["passed"] is True and rep2["action"] == "published"
    got = {r["doc_id"] for r in table.read().collect()}
    assert got == {"d0", "good"}                # bad batch never published


# --------------------------------------------- round-3 review regressions ---

def test_monitor_durable_cursor_beats_from_snapshot(spark, tmp_path):
    """A restarted monitor with the same constructor args (GENESIS
    backfill + cursor_path) resumes from the durable cursor instead of
    re-validating all history on every restart."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import SnapshotMonitor

    sch = "doc_id string, n_tok int, source string"
    table = PyIcebergTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([], sch).schema)
    table.append(spark.createDataFrame([("d1", 1, "web")], sch))
    engine = ValidationEngine(
        RuleSet.parse({"rules": [
            {"id": "R1", "type": "Range", "column": "n_tok",
             "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    cur = str(tmp_path / "cursor.json")
    m1 = SnapshotMonitor(table, engine, cursor_path=cur,
                         from_snapshot=SnapshotMonitor.GENESIS)
    out = m1.poll_once()
    assert out is not None          # backfill validated
    # restart with the SAME args: durable cursor wins, nothing re-runs
    m2 = SnapshotMonitor(table, engine, cursor_path=cur,
                         from_snapshot=SnapshotMonitor.GENESIS)
    assert m2.poll_once() is None


def test_monitor_run_commits_after_consumption(spark, tmp_path):
    """run() defers the cursor until the consumer resumes the generator:
    abandoning the generator mid-batch leaves the cursor unmoved, so the
    same delta re-validates (at-least-once for the consumer's sink)."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import SnapshotMonitor

    sch = "doc_id string, n_tok int, source string"
    table = PyIcebergTable.create(
        spark, str(tmp_path / "t2"),
        spark.createDataFrame([], sch).schema)
    table.append(spark.createDataFrame([("d1", 1, "web")], sch))
    engine = ValidationEngine(
        RuleSet.parse({"rules": [
            {"id": "R1", "type": "Range", "column": "n_tok",
             "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    m = SnapshotMonitor(table, engine,
                        from_snapshot=SnapshotMonitor.GENESIS)
    gen = m.run(max_polls=3)
    sid, res = next(gen)            # take the batch, DON'T resume
    gen.close()                     # consumer dies before the next ask
    assert m.cursor == SnapshotMonitor.GENESIS   # cursor never moved
    # a fresh loop re-delivers the same delta
    sid2, res2 = next(m.run(max_polls=1))
    assert sid2 == sid
    # consuming to exhaustion commits
    m2 = SnapshotMonitor(table, engine,
                         from_snapshot=SnapshotMonitor.GENESIS)
    list(m2.run(max_polls=1))
    assert m2.cursor == table.current_snapshot_id()


def test_audit_no_staged_delta_short_circuits(spark, tmp_path):
    """audit_and_publish after a successful publish (no new staged
    commits) must not rescan the branch state, re-publish, or drop the
    branch — it reports a no-op."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import audit_and_publish

    sch = "doc_id string, n_tok int, source string"
    table = PyIcebergTable.create(
        spark, str(tmp_path / "t3"),
        spark.createDataFrame([], sch).schema)
    table.branch("staged")
    table.append(spark.createDataFrame([("d1", 1, "web")], sch),
                 branch="staged")
    engine = ValidationEngine(
        RuleSet.parse({"rules": [
            {"id": "R1", "type": "Range", "column": "n_tok",
             "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    gate = audit_and_publish(table, engine, "staged")
    assert gate["action"] == "published"
    # retry with nothing staged: no-op, branch intact, nothing re-read
    gate2 = audit_and_publish(table, engine, "staged")
    assert gate2 == {"passed": True, "action": None, "staged_rows": 0,
                     "result": None}
    assert "staged" in table._load_meta().get("refs", {})


def test_sink_fresh_run_id_does_not_skip_epoch_zero(spark, tmp_path):
    """round-5 review regressions (batch 8): Spark restarts epoch_id at 0
    on a fresh checkpoint — a guard keyed only on the sink name would
    silently skip the new run's first batches against the old run's
    high-water mark. A new run_id scopes the guard per run."""
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import IcebergStreamSink
    df = spark.createDataFrame([("d1", 3, "web")],
                               "doc_id string, n_tok int, source string")
    table = PyIcebergTable.create(spark, str(tmp_path / "tbl"), df.schema)
    run1 = IcebergStreamSink(table, name="s", run_id="ckpt-a")
    for epoch in (0, 1, 2):
        run1(df, epoch)
    assert table.read().count() == 3
    # same name, fresh checkpoint (new run_id): epoch 0 must COMMIT
    run2 = IcebergStreamSink(table, name="s", run_id="ckpt-b")
    run2(df, 0)
    assert table.read().count() == 4
    # while a true replay within run2 still skips
    run2(df, 0)
    assert table.read().count() == 4


def test_sink_resume_falls_back_to_unscoped_guard(spark, tmp_path):
    """A checkpoint written by a sink without run_id left its epoch under
    the unscoped sink.{name}.epoch key. Resumed by a sink scoped with a
    run_id (resume_unscoped=True), the replayed in-flight epoch must
    skip, not append a second time; the next epoch commits, and from then
    on the run's own key decides."""
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import IcebergStreamSink
    df = spark.createDataFrame([("d1", 3, "web")],
                               "doc_id string, n_tok int, source string")
    table = PyIcebergTable.create(spark, str(tmp_path / "tbl"), df.schema)
    legacy = IcebergStreamSink(table, name="s")
    for epoch in (0, 1, 2):
        legacy(df, epoch)
    assert table.read().count() == 3
    resumed = IcebergStreamSink(table, name="s", run_id="ckpt-a",
                                resume_unscoped=True)
    assert resumed.last_epoch() == 2
    resumed(df, 2)                       # crash replay of epoch 2
    assert table.read().count() == 3
    resumed(df, 3)
    assert table.read().count() == 4
    props = table._load_meta()["properties"]
    assert props["sink.s-ckpt-a.epoch"] == "3"
    assert IcebergStreamSink(table, name="s", run_id="ckpt-a",
                             resume_unscoped=True).last_epoch() == 3


def test_sink_fresh_run_id_ignores_unscoped_guard(spark, tmp_path):
    """A fresh run_id on a table that carries an unscoped marker starts
    at -1: its epoch 0 commits, nothing is skipped against the marker a
    sink without run_id left."""
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import IcebergStreamSink
    df = spark.createDataFrame([("d1", 3, "web")],
                               "doc_id string, n_tok int, source string")
    table = PyIcebergTable.create(spark, str(tmp_path / "tbl"), df.schema)
    legacy = IcebergStreamSink(table, name="s")
    for epoch in (0, 1, 2):
        legacy(df, epoch)
    fresh = IcebergStreamSink(table, name="s", run_id="ckpt-b")
    assert fresh.last_epoch() == -1
    fresh(df, 0)
    assert table.read().count() == 4


def test_write_stream_resumes_unscoped_checkpoint(spark, tmp_path):
    """write_stream_to_table over a checkpoint a sink without run_id
    wrote: a batch that sink committed but Spark did not (its commits/
    entry lost in a crash) replays and must not append twice. A fresh
    checkpoint on the same table still ingests its first batch."""
    import os
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import (IcebergStreamSink,
                                                      write_stream_to_table)
    schema = "doc_id string, n_tok int, source string"
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    first = spark.createDataFrame([("d1", 3, "web")], schema)
    first.write.parquet(src)
    table = PyIcebergTable.create(spark, str(tmp_path / "tbl"),
                                  first.schema)

    def legacy_run():
        (spark.readStream.schema(first.schema).parquet(src).writeStream
         .foreachBatch(IcebergStreamSink(table, name="t"))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start().awaitTermination(120))
    legacy_run()                                  # epoch 0
    spark.createDataFrame([("d2", 4, "web")], schema) \
        .write.mode("append").parquet(src)
    legacy_run()                                  # epoch 1
    assert table.read().count() == 2
    for f in ("1", ".1.crc"):                     # crash before commit
        os.remove(os.path.join(ckpt, "commits", f))
    write_stream_to_table(spark.readStream.schema(first.schema).parquet(src),
                          table, ckpt, name="t").awaitTermination(120)
    assert table.read().count() == 2              # epoch 1 not re-appended

    write_stream_to_table(spark.readStream.schema(first.schema).parquet(src),
                          table, str(tmp_path / "ckpt2"),
                          name="t").awaitTermination(120)
    assert table.read().count() == 4              # fresh run ingests all
def test_audit_and_publish_refuses_branch_advanced_mid_audit(spark,
                                                             tmp_path):
    """round-5 review regressions (batch 8): commits staged AFTER the
    audit read its branch head must never be published unaudited (nor
    destroyed by a failing drop) — the publish/drop is pinned to the
    audited head and raises when the branch moved."""
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import audit_and_publish

    df = spark.createDataFrame([("d1", 3, "web")],
                               "doc_id string, n_tok int, source string")
    table = PyIcebergTable.create(spark, str(tmp_path / "tbl"), df.schema)
    table.append(df)
    table.branch("staged")
    table.append(df, branch="staged")

    class SneakyEngine:
        """Appends to the branch DURING validate() — the continuous-mode
        sink racing the audit."""
        def __init__(self, passed):
            self._passed = passed

        def validate(self, staged):
            staged.count()
            table.append(df, branch="staged")     # epoch K lands mid-audit
            outer = self

            class R:
                def passed(self):
                    return outer._passed
            return R()

    with pytest.raises(ValueError, match="advanced"):
        audit_and_publish(table, SneakyEngine(True), "staged")
    with pytest.raises(ValueError, match="advanced"):
        audit_and_publish(table, SneakyEngine(False), "staged")
    # neither path mutated refs: the branch still exists with its commits,
    # and main never advanced past its own head
    meta = table._load_meta()
    assert "staged" in meta["refs"]
    assert table.read().count() == 1              # main unchanged


def test_monitor_compaction_is_not_new_data(spark, tmp_path):
    """round-5 review regressions (batch 8): a compaction restates live
    files at a higher sequence number — incremental() would re-read the
    whole table as the 'delta' and re-report every historical violation;
    the monitor must see an EMPTY batch instead."""
    from fhir_data_validation_spark import EngineConfig, RuleSet, \
        ValidationEngine
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import SnapshotMonitor

    df = spark.createDataFrame(
        [("d1", 0, "web"), ("d2", 0, "web")],    # both violate min 1
        "doc_id string, n_tok int, source string")
    table = PyIcebergTable.create(spark, str(tmp_path / "tbl"), df.schema)
    engine = ValidationEngine(
        RuleSet.parse({"rules": [
            {"id": "R1", "type": "Range", "column": "n_tok",
             "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    monitor = SnapshotMonitor(table, engine,
                              from_snapshot=SnapshotMonitor.GENESIS)
    table.append(df.limit(1))
    table.append(df.subtract(df.limit(1)))
    sid, res = monitor.poll_once()
    assert res.violations.count() == 2            # both rows reported once
    table.compact()                               # bytes moved, no new data
    out = monitor.poll_once()
    if out is not None:                           # snapshot advanced...
        _, res2 = out
        assert res2.violations.count() == 0       # ...but NOTHING re-reported


def test_monitor_corrupt_cursor_falls_back(spark, tmp_path):
    """round-5 review regressions (batch 8): a truncated/corrupt cursor
    file must not wedge every restart on json.loads — the monitor falls
    back to from_snapshot (at-least-once, never an unrecoverable crash).
    Cursor writes are temp+rename atomic so this only covers pre-fix
    debris."""
    from fhir_data_validation_spark import EngineConfig, RuleSet, \
        ValidationEngine
    from fhir_data_validation_spark.fsutil import read_bytes, write_bytes
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable
    from fhir_data_validation_spark.streaming import SnapshotMonitor

    df = spark.createDataFrame([("d1", 3, "web")],
                               "doc_id string, n_tok int, source string")
    table = PyIcebergTable.create(spark, str(tmp_path / "tbl"), df.schema)
    table.append(df)
    engine = ValidationEngine(
        RuleSet.parse({"rules": [
            {"id": "R1", "type": "Range", "column": "n_tok",
             "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    cursor = str(tmp_path / "cursor.json")
    write_bytes(spark, cursor, b'{"snapshot_')     # truncated mid-write
    monitor = SnapshotMonitor(table, engine, cursor_path=cursor,
                              from_snapshot=SnapshotMonitor.GENESIS)
    out = monitor.poll_once()
    assert out is not None and out[1].violations.count() == 0
    # and the re-written cursor is valid json again
    import json as _json
    assert "snapshot_id" in _json.loads(read_bytes(spark, cursor).decode())


def test_stateful_viol_column_sums_per_rule_hits(spark):
    """round-5 review regressions (batch 8): a row failing TWO rules
    contributes 2 to violations_total (rule-granular, matching the batch
    verdict totals), not 1 as the old any-rule OR-fold counted."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.compiler import compile_ruleset
    from fhir_data_validation_spark.streaming.stateful import _slim_counts

    cfg = EngineConfig(key_col="doc_id", group_col="source")
    rs = RuleSet.parse({"rules": [
        {"id": "R1", "type": "Range", "column": "n_tok",
         "params": {"min": 1}},
        {"id": "R2", "type": "Required", "column": "lang"}]})
    df = spark.createDataFrame(
        [("d1", 0, None, "web"),      # fails BOTH rules
         ("d2", 5, "en", "web"),      # clean
         ("d3", 0, "en", "web")],     # fails one
        "doc_id string, n_tok int, lang string, source string")
    plan = compile_ruleset(rs, df.schema, cfg, {})
    rows = _slim_counts(df, plan, cfg).collect()
    assert sorted(r["_viol"] for r in rows) == [0, 1, 2]
