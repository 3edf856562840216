"""EXECUTED Iceberg v2 tests — the pure-Python table format
(``sources/iceberg_py.py``): snapshot-pinned reads, incremental changelog,
MERGE-semantics lineage, and cross-implementation Avro conformance of the
actual manifest files against the official Java Avro library (bundled with
Spark). Complements ``test_iceberg.py``, whose jar-backed path still
self-skips in this container."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhir_data_validation_spark.sources import avro_io
from fhir_data_validation_spark.sources.iceberg_py import (
    PyIcebergLineageStore, PyIcebergTable)

TOKENS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), True), True),
    T.StructField("n_tok", T.IntegerType(), True),
    T.StructField("source", T.StringType(), True)])


def _rows(spark, rows):
    return spark.createDataFrame(rows, TOKENS_SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    t = PyIcebergTable.create(spark, str(tmp_path / "tok"), TOKENS_SCHEMA,
                              partition_by="source")
    t.append(_rows(spark, [("d1", [1, 2, 3], 3, "web"),
                           ("d2", [4, 5], 2, "web"),
                           ("d3", [6], 1, "book")]))
    return t


# ------------------------------------------------------------ avro codec ---

def test_avro_roundtrip_unions_arrays_maps():
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": ["null", "long"], "default": None},
        {"name": "xs", "type": {"type": "array", "items": "int"}},
        {"name": "m", "type": {"type": "map", "values": "string"}}]}
    recs = [{"s": "héllo", "n": -(1 << 40), "xs": [0, -1, 2], "m": {"a": "b"}},
            {"s": "", "n": None, "xs": [], "m": {}}]
    for codec in ("deflate", "null"):
        _, meta, out = avro_io.read_container(
            avro_io.write_container(schema, recs, codec=codec))
        assert out == recs


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _AVRO_PROP_SCHEMA = {
        "type": "record", "name": "fz", "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "long"], "default": None},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "long"}}]}

    _rec = st.fixed_dictionaries({
        "s": st.text(max_size=40),
        "n": st.one_of(st.none(),
                       st.integers(-(2 ** 63), 2 ** 63 - 1)),
        "d": st.floats(allow_nan=False, allow_infinity=False),
        "b": st.booleans(),
        "raw": st.binary(max_size=30),
        "xs": st.lists(st.integers(-(2 ** 63), 2 ** 63 - 1), max_size=8),
        "m": st.dictionaries(st.text(max_size=10),
                             st.integers(-(2 ** 31), 2 ** 31), max_size=5),
    })

    @settings(max_examples=60, deadline=None)
    @given(recs=st.lists(_rec, max_size=12),
           codec=st.sampled_from(["deflate", "null"]))
    def test_avro_property_roundtrip(recs, codec):
        """Fuzzed write→read identity over the full supported type surface
        (full-width longs, empty strings/maps/arrays, null unions)."""
        data = avro_io.write_container(_AVRO_PROP_SCHEMA, recs, codec=codec)
        _, _, out = avro_io.read_container(data)
        assert out == recs
except ImportError:                                    # pragma: no cover
    pass


def test_java_avro_reads_our_manifest_files(spark, table):
    """The REAL artifacts — this table's manifest list and manifest Avro
    files — must parse in the official Java Avro implementation."""
    jvm = spark._jvm
    meta = table._load_meta()
    snap = meta["snapshots"][-1]
    mlist_path = snap["manifest-list"]

    def java_read(path):
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(path),
            jvm.org.apache.avro.generic.GenericDatumReader())
        out = []
        while reader.hasNext():
            out.append(json.loads(str(reader.next())))
        reader.close()
        return out

    mlist = java_read(mlist_path)
    assert len(mlist) == 1
    assert mlist[0]["added_files_count"] >= 1
    assert mlist[0]["added_snapshot_id"] == snap["snapshot-id"]

    entries = java_read(mlist[0]["manifest_path"])
    assert {e["status"] for e in entries} == {1}
    files = {e["data_file"]["file_path"] for e in entries}
    assert all(p.endswith(".parquet") for p in files)
    parts = {e["data_file"]["partition"]["source"] for e in entries}
    assert parts == {"web", "book"}
    assert sum(e["data_file"]["record_count"] for e in entries) == 3


def test_python_reads_java_written_avro(spark):
    """Decode direction: a file written by the Java library reads back
    identically here."""
    import tempfile
    jvm = spark._jvm
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"], "default": None}]}
    jschema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema))
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    path = tempfile.mktemp(suffix=".avro")
    dfw.create(jschema, jvm.java.io.File(path))
    rb = jvm.org.apache.avro.generic.GenericRecordBuilder(jschema)
    rb.set("a", 5_000_000_000)
    rb.set("b", "jv")
    dfw.append(rb.build())
    dfw.close()
    _, _, out = avro_io.read_container(open(path, "rb").read())
    assert out == [{"a": 5_000_000_000, "b": "jv"}]


# ----------------------------------------------------------- table format --

def test_metadata_layout_is_iceberg_v2(spark, table):
    meta = table._load_meta()
    assert meta["format-version"] == 2
    assert meta["current-schema-id"] == 0
    fields = meta["schemas"][0]["fields"]
    assert [f["name"] for f in fields] == ["doc_id", "tokens", "n_tok",
                                           "source"]
    assert all("id" in f for f in fields)
    tokens_t = fields[1]["type"]
    assert tokens_t["type"] == "list" and tokens_t["element"] == "int"
    spec = meta["partition-specs"][0]["fields"][0]
    assert spec["transform"] == "identity" and spec["field-id"] == 1000
    assert meta["refs"]["main"]["snapshot-id"] == meta["current-snapshot-id"]
    # manifest carries the Iceberg key-value metadata
    mlist = table._manifest_list(meta, meta["current-snapshot-id"])
    _, mmeta, _ = avro_io.read_container(
        __import__("builtins").open(mlist[0]["manifest_path"].replace(
            "file:", ""), "rb").read())
    assert mmeta["format-version"] == b"2"
    assert mmeta["content"] == b"data"
    assert json.loads(mmeta["schema"].decode())["type"] == "struct"


def test_snapshot_pinned_read_is_immutable(spark, table):
    s1 = table.current_snapshot_id()
    assert table.read(s1).count() == 3
    table.append(_rows(spark, [("d4", [7], 1, "web")]))
    assert table.read(s1).count() == 3            # pinned: immutable
    assert table.read().count() == 4
    # partition column survives the read (identity partition layout)
    assert (table.read().where(F.col("source") == "web").count() == 3)


def test_incremental_reads_only_appended_files(spark, table):
    s1 = table.current_snapshot_id()
    table.append(_rows(spark, [("d4", [7], 1, "web"),
                               ("d5", [8, 9], 2, "chat")]))
    s2 = table.current_snapshot_id()
    table.append(_rows(spark, [("d6", [0], 1, "web")]))
    inc = table.incremental(s1, s2)
    assert sorted(r["doc_id"] for r in inc.collect()) == ["d4", "d5"]
    # open-ended: everything after s1
    assert sorted(r["doc_id"] for r in
                  table.incremental(s1).collect()) == ["d4", "d5", "d6"]
    # delta planning touches ONLY the appended files
    files = {f for f in table.incremental(s1, s2).inputFiles()}
    all_files = {f for f in table.read(s2).inputFiles()}
    assert files < all_files and len(files) < len(all_files)


def test_partition_filter_prunes_at_manifest_level(spark, table):
    """partition_filter selects files from the manifests — non-matching
    partitions never reach Spark's planner."""
    table.append(_rows(spark, [("d4", [7], 1, "chat")]))
    web = table.read(partition_filter={"source": "web"})
    assert sorted(r["doc_id"] for r in web.collect()) == ["d1", "d2"]
    assert len(web.inputFiles()) < len(table.read().inputFiles())
    multi = table.read(partition_filter={"source": ["web", "chat"]})
    assert sorted(r["doc_id"] for r in multi.collect()) == ["d1", "d2", "d4"]
    with pytest.raises(ValueError, match="partitions on source column"):
        table.read(partition_filter={"n_tok": 1})


def test_stats_filter_skips_files_by_column_bounds(spark, tmp_path):
    """The skip index prunes files whose [min, max] cannot intersect the
    requested range — Iceberg's lower/upper-bounds skipping, engine-side."""
    t = PyIcebergTable.create(spark, str(tmp_path / "sb"), TOKENS_SCHEMA)
    # two commits with disjoint n_tok ranges → disjoint file sets
    t.append(_rows(spark, [(f"lo{i}", [1], i, "web")
                           for i in range(1, 4)]).coalesce(1))
    t.append(_rows(spark, [(f"hi{i}", [1], i, "web")
                           for i in range(100, 103)]).coalesce(1))
    all_files = t.read().inputFiles()
    hi = t.read(stats_filter={"n_tok": (50, None)})
    assert len(hi.inputFiles()) < len(all_files)
    assert sorted(r["doc_id"] for r in hi.collect()) == ["hi100", "hi101",
                                                         "hi102"]
    lo = t.read(stats_filter={"n_tok": (None, 10)})
    assert sorted(r["doc_id"] for r in lo.collect()) == ["lo1", "lo2", "lo3"]
    # no-intersection range → typed empty result
    none = t.read(stats_filter={"n_tok": (50, 60)})
    assert none.count() == 0
    # string bounds work too
    assert t.read(stats_filter={"doc_id": ("hi", "hj")}).count() == 3


def test_partitioned_file_counts_not_keyed_by_basename(spark, tmp_path):
    """One task writing two partition values produces the SAME part-file
    basename in both dirs — per-file stats must key on the partition
    subpath too (regression: basename keys summed counts across dirs)."""
    t = PyIcebergTable.create(spark, str(tmp_path / "bn"), TOKENS_SCHEMA,
                              partition_by="source")
    t.append(_rows(spark, [("a", [1], 1, "web"), ("b", [1], 1, "web"),
                           ("c", [1], 1, "book")]).coalesce(1))
    per_part = {json.loads(r["partition"])["source"]: r["record_count"]
                for r in t.files().collect()}
    assert per_part == {"web": 2, "book": 1}
    assert t.files().agg({"record_count": "sum"}).collect()[0][0] == 3


def test_files_metadata_view(spark, table):
    f = table.files()
    rows = f.collect()
    assert sum(r["record_count"] for r in rows) == 3
    assert all(r["file_path"].endswith(".parquet") for r in rows)
    parts = {json.loads(r["partition"])["source"] for r in rows}
    assert parts == {"web", "book"}


def test_overwrite_and_time_travel(spark, table):
    s1 = table.current_snapshot_id()
    table.overwrite(_rows(spark, [("x", [1], 1, "web")]))
    assert [r["doc_id"] for r in table.read().collect()] == ["x"]
    assert table.read(s1).count() == 3            # history intact
    ops = [r["operation"] for r in
           table.snapshots().orderBy("committed_at").collect()]
    assert ops == ["append", "overwrite"]


def test_unpartitioned_table_and_schema_roundtrip(spark, tmp_path):
    t = PyIcebergTable.create(spark, str(tmp_path / "flat"), TOKENS_SCHEMA)
    t.append(_rows(spark, [("a", [1], 1, "web")]))
    assert t.read().count() == 1
    assert t.schema() == TOKENS_SCHEMA
    # a created-but-empty table reads as a typed EMPTY frame (an empty
    # main is a normal state once audit branches exist); explicit time
    # travel on it still raises cleanly
    empty = PyIcebergTable.create(spark, str(tmp_path / "empty"),
                                  TOKENS_SCHEMA)
    assert empty.read().count() == 0
    assert [f.name for f in empty.read().schema.fields] == \
        [f.name for f in TOKENS_SCHEMA.fields]
    with pytest.raises(ValueError, match="no snapshots"):
        empty._snapshot(empty._load_meta(), None)


def test_empty_append_commits_empty_snapshot(spark, table):
    """A no-new-data delta batch is routine: it must commit an empty
    snapshot, not crash on the file-less staging dir."""
    before = table.read().count()
    s_prev = table.current_snapshot_id()
    sid = table.append(_rows(spark, []))
    assert table.current_snapshot_id() == sid
    assert table.read().count() == before
    inc = table.incremental(s_prev)
    assert inc.count() == 0
    assert inc.schema == table.read().schema


def test_partition_values_keep_declared_types(spark, tmp_path):
    """Reads are pinned to the DECLARED schema: numeric-looking string
    partition values must not come back as ints (Spark dir inference)."""
    t = PyIcebergTable.create(spark, str(tmp_path / "p1"), TOKENS_SCHEMA,
                              partition_by="source")
    t.append(_rows(spark, [("d1", [1], 1, "123"), ("d2", [2], 1, "007")]))
    df = t.read()
    assert dict(df.dtypes)["source"] == "string"
    assert {r["source"] for r in df.collect()} == {"123", "007"}
    # long partition column round-trips as long
    schema2 = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("bucket", T.LongType(), True)])
    t2 = PyIcebergTable.create(spark, str(tmp_path / "p2"), schema2,
                               partition_by="bucket")
    t2.append(spark.createDataFrame([("a", 5), ("b", 7)], schema2))
    assert dict(t2.read().dtypes)["bucket"] == "bigint"
    assert {r["bucket"] for r in t2.read().collect()} == {5, 7}


def test_create_twice_and_concurrent_commit_guard(spark, tmp_path):
    loc = str(tmp_path / "dup")
    PyIcebergTable.create(spark, loc, TOKENS_SCHEMA)
    with pytest.raises(RuntimeError, match="already exists"):
        PyIcebergTable.create(spark, loc, TOKENS_SCHEMA)


# ------------------------------------------------------- lineage (MERGE) ---

def test_lineage_merge_upsert_is_idempotent(spark, tmp_path):
    store = PyIcebergLineageStore(str(tmp_path / "lineage"))
    recs = [("r1", "web", "REQ-001", 10, 1, 1, False, 5, 0.0),
            ("r1", "book", None, 5, 0, 0, True, 3, 0.0)]
    store.append(spark, recs)
    assert store.read(spark).count() == 2
    # re-append with updated values: UPDATE, not duplicate (null-safe on
    # the rule_id key, like the reference MERGE's <=>)
    store.append(spark, [("r1", "web", "REQ-001", 10, 2, 2, False, 7, 1.0),
                         ("r1", "book", None, 5, 1, 0, True, 9, 1.0)])
    rows = {(r["partition_key"], r["rule_id"]): r
            for r in store.read(spark).collect()}
    assert len(rows) == 2
    assert rows[("web", "REQ-001")]["violations"] == 2
    assert rows[("book", None)]["wall_ms"] == 9
    assert store.completed_partitions(spark, "r1") == {"web", "book"}
    # every lineage state is a time-travelable snapshot
    t = PyIcebergTable(spark, str(tmp_path / "lineage"))
    snaps = t.snapshots().orderBy("committed_at").collect()
    assert len(snaps) == 2
    first = t.read(snaps[0]["snapshot_id"]).collect()
    assert {r["violations"] for r in first} == {0, 1}


def test_resumable_run_on_iceberg_lineage(spark, tmp_path):
    """ResumableRun with the Iceberg lineage backend: pre-seeded completed
    partitions are skipped, markers are MERGE-upserted."""
    from fhir_data_validation_spark import RuleSet
    from fhir_data_validation_spark.lineage import ResumableRun
    from fhir_data_validation_spark.sources.synth import dirty_token_table

    store = PyIcebergLineageStore(str(tmp_path / "lin"))
    store.append(spark, [("rX", "web", None, 0, 0, 0, True, 0, 0.0)])
    ruleset = RuleSet.parse({"rules": [
        {"id": "REQ-001", "type": "Required", "column": "doc_id"}]})
    run = ResumableRun(ruleset, str(tmp_path / "out"), run_id="rX",
                       groups_per_batch=2, max_concurrent_batches=1,
                       lineage_store=store)
    metrics = run.run(dirty_token_table(spark, 200).drop("_row_id"))
    web_rules = metrics.where((F.col("partition_key") == "web")
                              & F.col("rule_id").isNotNull()).count()
    assert web_rules == 0                          # skipped via lineage
    assert metrics.where(F.col("partition_key") == "books").count() > 0


def test_run_validation_cli_pyiceberg(spark, tmp_path):
    """spark-submit entry point over the pure-Python Iceberg input: full
    run on snapshot 1, then an INCREMENTAL run (--since-snapshot) whose
    lineage shows only the appended partition's rows were validated."""
    import json as _json
    from jobs.run_validation import main

    loc = str(tmp_path / "tok")
    t = PyIcebergTable.create(spark, loc, TOKENS_SCHEMA,
                              partition_by="source")
    t.append(_rows(spark, [("d1", [1, 2], 2, "web"),
                           ("d2", [], 0, "book")]))
    s1 = t.current_snapshot_id()
    rules = str(tmp_path / "rules.json")
    with open(rules, "w") as f:
        _json.dump({"rules": [{"id": "LEN-1", "type": "ArrayLength",
                               "column": "tokens",
                               "params": {"min": 1}}]}, f)
    out1 = str(tmp_path / "out1")
    rc = main(["--input", loc, "--input-format", "pyiceberg",
               "--rules", rules, "--output", out1, "--run-id", "runA",
               "--iceberg-lineage", "--groups-per-batch", "8"])
    assert rc == 1                                 # d2's empty tokens fail
    lin = PyIcebergLineageStore(f"{out1}/lineage_ice")
    assert {"web", "book"} <= lin.completed_partitions(spark, "runA")

    t.append(_rows(spark, [("d3", [], 0, "chat")]))
    out2 = str(tmp_path / "out2")
    rc2 = main(["--input", loc, "--input-format", "pyiceberg",
                "--since-snapshot", str(s1),
                "--rules", rules, "--output", out2, "--run-id", "runB",
                "--iceberg-lineage", "--groups-per-batch", "8"])
    assert rc2 == 1                                # d3 fails too
    lin2 = PyIcebergLineageStore(f"{out2}/lineage_ice")
    parts = lin2.completed_partitions(spark, "runB")
    # the delta run saw ONLY the appended partition (+ dataset batch)
    assert "chat" in parts and "web" not in parts and "book" not in parts


def test_compact_rewrites_small_files(spark, tmp_path):
    """Many tiny appends → one compaction commit: same rows, fewer files;
    pre-compaction snapshots still time-travel."""
    t = PyIcebergTable.create(spark, str(tmp_path / "cp"), TOKENS_SCHEMA)
    for i in range(4):
        t.append(_rows(spark, [(f"d{i}", [i], 1, "web")]).repartition(2))
    before_files = len(t.read().inputFiles())
    s_before = t.current_snapshot_id()
    t.compact(target_files=1)
    after = t.read()
    assert len(after.inputFiles()) < before_files
    assert sorted(r["doc_id"] for r in after.collect()) == \
        ["d0", "d1", "d2", "d3"]
    assert len(t.read(s_before).inputFiles()) == before_files  # time travel
    ops = [r["operation"] for r in
           t.snapshots().orderBy("committed_at").collect()]
    assert ops[-1] == "overwrite"


def test_expire_snapshots_reclaims_only_orphaned_files(spark, tmp_path):
    """append → compact → expire: old snapshots' exclusive files are
    deleted, files shared with kept snapshots survive, and the current
    read is untouched."""
    import os
    t = PyIcebergTable.create(spark, str(tmp_path / "ex"), TOKENS_SCHEMA)
    for i in range(3):
        t.append(_rows(spark, [(f"d{i}", [i], 1, "web")]).coalesce(1))
    s_old = t.current_snapshot_id()
    t.compact(target_files=1)
    before = sorted(r["doc_id"] for r in t.read().collect())
    old_files = set(t.read(s_old).inputFiles())
    out = t.expire_snapshots(keep_last=1)
    assert out["snapshots"] == 3 and out["data_files"] == 3
    assert sorted(r["doc_id"] for r in t.read().collect()) == before
    assert len(t.snapshots().collect()) == 1
    # expired data files really gone; kept snapshot's files intact
    gone = [f for f in old_files
            if not os.path.exists(f.replace("file:", ""))]
    assert len(gone) == 3
    assert all(os.path.exists(f.replace("file:", ""))
               for f in t.read().inputFiles())
    with pytest.raises(ValueError, match="not found"):
        t.read(s_old)
    # keeping everything is a no-op
    assert t.expire_snapshots(keep_last=5)["snapshots"] == 0


def test_compact_partitioned_never_increases_files(spark, tmp_path):
    """Partitioned compaction hashes on the partition column: one file per
    partition value, never more files than before (regression: round-robin
    repartition exploded to tasks × partitions files)."""
    t = PyIcebergTable.create(spark, str(tmp_path / "cpp"), TOKENS_SCHEMA,
                              partition_by="source")
    for i in range(3):
        t.append(_rows(spark, [(f"w{i}", [1], 1, "web"),
                               (f"b{i}", [1], 1, "book")]).repartition(2))
    before = len(t.read().inputFiles())
    t.compact()
    after = t.read()
    assert len(after.inputFiles()) == 2          # one per partition value
    assert len(after.inputFiles()) < before
    assert after.count() == 6
    with pytest.raises(ValueError, match="target_files"):
        t.compact(target_files=0)


def test_expire_keeps_skip_index_of_live_append_chain(spark, tmp_path):
    """Expiring an old snapshot whose FILES remain live (append chains
    re-reference its manifest) must keep its skip index — stats pruning
    for surviving files must not silently stop working."""
    t = PyIcebergTable.create(spark, str(tmp_path / "sk"), TOKENS_SCHEMA)
    t.append(_rows(spark, [(f"lo{i}", [1], i, "web")
                           for i in range(1, 4)]).coalesce(1))
    t.append(_rows(spark, [(f"hi{i}", [1], i, "web")
                           for i in range(100, 103)]).coalesce(1))
    out = t.expire_snapshots(keep_last=1)
    assert out["data_files"] == 0                # append chain: all live
    hi = t.read(stats_filter={"n_tok": (50, None)})
    assert len(hi.inputFiles()) < len(t.read().inputFiles())  # still prunes
    assert sorted(r["doc_id"] for r in hi.collect()) == ["hi100", "hi101",
                                                         "hi102"]


def test_monitor_recovers_after_cursor_snapshot_expired(spark, tmp_path):
    """expire_snapshots removing the monitor's cursor snapshot must not
    wedge the loop: the next batch falls back to a full validation of the
    current snapshot (at-least-once, never skipped)."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.streaming import SnapshotMonitor
    t = PyIcebergTable.create(spark, str(tmp_path / "me"), TOKENS_SCHEMA)
    t.append(_rows(spark, [("seed", [1], 1, "web")]))
    engine = ValidationEngine(
        RuleSet.parse({"rules": [{"id": "LEN-1", "type": "ArrayLength",
                                  "column": "tokens",
                                  "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    mon = SnapshotMonitor(t, engine)
    mon.poll_once()                              # baseline = seed snapshot
    t.append(_rows(spark, [("bad", [], 0, "web")]))
    t.expire_snapshots(keep_last=1)              # cursor snapshot gone
    sid, res = mon.poll_once()
    assert sid == t.current_snapshot_id()
    # full revalidation of the current snapshot (seed re-checked too)
    assert {r["doc_id"] for r in res.violations.collect()} == {"bad"}
    assert mon.poll_once() is None               # cursor healthy again


def test_add_files_registers_external_parquet_without_copy(spark, tmp_path):
    """add_files: externally-written parquet becomes a snapshot in place —
    no data copy; stats/skip-index/manifests still built."""
    import os
    ext = str(tmp_path / "external")
    _rows(spark, [("e1", [1], 1, "web"),
                  ("e2", [2, 3], 2, "book")]).coalesce(1).write.parquet(ext)
    t = PyIcebergTable.create(spark, str(tmp_path / "reg"), TOKENS_SCHEMA)
    sid = t.add_files(ext)
    assert sorted(r["doc_id"] for r in t.read(sid).collect()) == ["e1", "e2"]
    # files referenced in place — none under the table's data/
    assert all("/external/" in f for f in t.read().inputFiles())
    assert not os.path.exists(str(tmp_path / "reg" / "data"))
    # per-file stats flowed through (skip index + record counts)
    assert t.files().agg({"record_count": "sum"}).collect()[0][0] == 2
    assert t.read(stats_filter={"n_tok": (5, None)}).count() == 0
    # partitioned tables refuse (external layouts lack the partition tree)
    tp = PyIcebergTable.create(spark, str(tmp_path / "regp"), TOKENS_SCHEMA,
                               partition_by="source")
    with pytest.raises(ValueError, match="unpartitioned"):
        tp.add_files(ext)


def test_snapshot_monitor_continuous_validation(spark, tmp_path):
    """Poll → delta → validate loop with a durable cursor: each append
    becomes one validated micro-batch; a NEW monitor resumes from the
    persisted cursor without re-validating history."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.streaming import SnapshotMonitor

    t = PyIcebergTable.create(spark, str(tmp_path / "mon"), TOKENS_SCHEMA,
                              partition_by="source")
    t.append(_rows(spark, [("seed", [1, 2], 2, "web")]))
    engine = ValidationEngine(
        RuleSet.parse({"rules": [{"id": "LEN-1", "type": "ArrayLength",
                                  "column": "tokens",
                                  "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    cursor = str(tmp_path / "cursor.json")
    mon = SnapshotMonitor(t, engine, cursor_path=cursor)

    assert mon.poll_once() is None          # adopts baseline, validates 0
    assert mon.poll_once() is None          # no new data
    t.append(_rows(spark, [("bad1", [], 0, "web"),
                           ("ok1", [5], 1, "web")]))
    sid, res = mon.poll_once()
    assert sid == t.current_snapshot_id()
    assert {r["doc_id"] for r in res.violations.collect()} == {"bad1"}
    assert mon.poll_once() is None

    # restart: a fresh monitor picks up the durable cursor
    t.append(_rows(spark, [("bad2", [], 0, "chat")]))
    mon2 = SnapshotMonitor(t, engine, cursor_path=cursor)
    batches = list(mon2.run(max_polls=3))
    assert len(batches) == 1
    _, res2 = batches[0]
    assert {r["doc_id"] for r in res2.violations.collect()} == {"bad2"}


def test_snapshot_monitor_empty_table_validates_first_snapshot(spark,
                                                               tmp_path):
    """A monitor attached BEFORE the pipeline's first write must validate
    the table's first snapshot when it appears (regression: it was
    silently adopted as the baseline), and GENESIS backfills history."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.streaming import SnapshotMonitor

    t = PyIcebergTable.create(spark, str(tmp_path / "mt"), TOKENS_SCHEMA)
    engine = ValidationEngine(
        RuleSet.parse({"rules": [{"id": "LEN-1", "type": "ArrayLength",
                                  "column": "tokens",
                                  "params": {"min": 1}}]}),
        config=EngineConfig(key_col="doc_id", group_col="source"))
    mon = SnapshotMonitor(t, engine)
    assert mon.poll_once() is None          # empty table → genesis baseline
    t.append(_rows(spark, [("bad", [], 0, "web")]))
    sid, res = mon.poll_once()
    assert {r["doc_id"] for r in res.violations.collect()} == {"bad"}

    # explicit GENESIS on a table WITH history backfills everything
    mon2 = SnapshotMonitor(t, engine,
                           from_snapshot=SnapshotMonitor.GENESIS)
    sid2, res2 = mon2.poll_once()
    assert sid2 == sid
    assert res2.violations.count() == 1


# --------------------------------------- incremental (delta) validation ----

def test_snapshot_drift_between_two_snapshots(spark, tmp_path):
    """stats.snapshot_drift: a shifted n_tok distribution between two
    snapshots shows large PSI; an identical one shows ~0."""
    from fhir_data_validation_spark import stats

    t = PyIcebergTable.create(spark, str(tmp_path / "dr"), TOKENS_SCHEMA)
    base = [(f"a{i}", [1], 10 + i % 5, "web") for i in range(200)]
    t.append(_rows(spark, base))
    s1 = t.current_snapshot_id()
    t.overwrite(_rows(spark, [(f"b{i}", [1], 500 + i % 5, "web")
                              for i in range(200)]))
    s2 = t.current_snapshot_id()
    shifted = stats.snapshot_drift(t, "n_tok", s1, s2,
                                   bucket_width=16).collect()[0]
    assert shifted["psi"] > 1.0 and shifted["ks"] > shifted["ks_crit"]
    same = stats.snapshot_drift(t, "n_tok", s1, s1,
                                bucket_width=16).collect()[0]
    assert abs(same["psi"]) < 1e-9 and same["ks"] == 0.0
    # token-frequency mode over the array column (PSI-only gate)
    tok = stats.snapshot_drift(t, "tokens", s1, s2,
                               mode="tokenFrequency").collect()[0]
    assert tok["n_current"] == 200 and tok["n_baseline"] == 200


def test_incremental_validation_touches_only_new_data(spark, table):
    """The north-star resume story: validate snapshot 1, append, then
    validate ONLY the delta — the second engine pass plans none of the
    already-validated files."""
    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    ruleset = RuleSet.parse({"rules": [
        {"id": "LEN-001", "type": "ArrayLength", "column": "tokens",
         "params": {"min": 2}}]})
    engine = ValidationEngine(ruleset, config=EngineConfig(
        key_col="doc_id", group_col="source"))

    s1 = table.current_snapshot_id()
    full = engine.validate(table.read(s1))
    v1 = {r["doc_id"] for r in full.violations.collect()}
    assert v1 == {"d3"}                            # [6] shorter than 2

    table.append(_rows(spark, [("d9", [1], 1, "web"),
                               ("ok", [1, 2, 3], 3, "web")]))
    delta = table.incremental(s1)
    res = engine.validate(delta)
    assert {r["doc_id"] for r in res.violations.collect()} == {"d9"}
    validated_files = set(delta.inputFiles())
    first_run_files = set(table.read(s1).inputFiles())
    assert validated_files.isdisjoint(first_run_files)


def test_incremental_dedup_over_snapshot_deltas(spark, tmp_path):
    """The full O(delta) curation loop: batch 1 seeds a fingerprint index;
    batch 2 arrives as an Iceberg snapshot delta and dedups against the
    index + itself WITHOUT re-reading batch 1's data files."""
    from fhir_data_validation_spark.pipeline import dedup
    from fhir_data_validation_spark.pipeline.text import fingerprint

    loc = str(tmp_path / "docs_tbl")
    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string")
    t = PyIcebergTable.create(spark, loc, b1.schema)
    s1 = t.append(b1)
    # bootstrap index = every batch-1 fingerprint (keeper = its own id)
    index = (t.read(s1).select(
        fingerprint(F.col("text")).alias("fingerprint"),
        F.col("doc_id").alias("keep")))

    b2 = spark.createDataFrame(
        [(10, "alpha text"),      # dup of snapshot-1 doc 1
         (11, "gamma text"), (12, "gamma text")],   # batch-internal dup
        "doc_id long, text string")
    s2 = t.append(b2)
    delta = t.incremental(s1, s2)           # ONLY batch-2 files
    assert delta.count() == 3
    verdicts, idx_delta = dedup.exact_duplicates_incremental(delta, index)
    got = {r["doc_id"]: (r["keep"], r["dup"]) for r in verdicts.collect()}
    assert got == {10: (1, True), 11: (11, False), 12: (11, True)}
    # appending the index delta closes the loop for batch 3
    assert {r["keep"] for r in idx_delta.collect()} == {11}


# -------------------------------------------------- row-level delete (COW) --

def test_delete_rows_rewrites_only_matching_files(spark, tmp_path):
    """Copy-on-write delete: the file containing matches is rewritten, the
    untouched file is CARRIED byte-identical into the new snapshot, the
    carried file keeps its skip-index bounds, and time travel still sees
    the deleted rows."""
    t = PyIcebergTable.create(spark, str(tmp_path / "del"), TOKENS_SCHEMA)
    t.append(_rows(spark, [("a1", [1], 1, "web"),
                           ("a2", [2], 2, "web")]).coalesce(1))
    t.append(_rows(spark, [("b1", [3], 3, "book"),
                           ("b2", [4], 4, "book")]).coalesce(1))
    before_files = set(t.read().inputFiles())
    s_before = t.current_snapshot_id()

    res = t.delete_rows("doc_id = 'a2'")
    assert res["files_rewritten"] == 1
    assert res["files_carried"] == 1
    assert res["rows_deleted"] == 1
    after = t.read()
    assert sorted(r["doc_id"] for r in after.collect()) == ["a1", "b1", "b2"]
    after_files = set(after.inputFiles())
    # exactly one pre-delete file survives verbatim (the carried one)
    assert len(before_files & after_files) == 1
    # time travel to the pre-delete snapshot still shows a2
    assert sorted(r["doc_id"] for r in t.read(s_before).collect()) == \
        ["a1", "a2", "b1", "b2"]
    ops = [r["operation"] for r in
           t.snapshots().orderBy("committed_at").collect()]
    assert ops[-1] == "delete"
    # the carried file's bounds survived into the new skip index:
    # n_tok in (3,4) lives only in the carried file
    pruned = t.read(stats_filter={"n_tok": (3, 4)})
    assert len(pruned.inputFiles()) == 1


def test_delete_rows_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE semantics: only rows where the predicate is TRUE go.
    A NULL-evaluating row in a rewritten file must survive exactly like
    its twin in a carried file (regression: ~pred dropped NULL rows from
    rewritten files only — silent data loss in the takedown primitive)."""
    schema = "doc_id string, value int"
    t = PyIcebergTable.create(
        spark, str(tmp_path / "nulldel"),
        spark.createDataFrame([], schema).schema)
    # one file holds a TRUE match alongside a NULL row; the other file has
    # a NULL row but no match (carried)
    t.append(spark.createDataFrame(
        [("a1", 5), ("a2", None), ("a3", 20)], schema).coalesce(1))
    t.append(spark.createDataFrame(
        [("b1", None), ("b2", 7)], schema).coalesce(1))
    res = t.delete_rows("value > 10")
    assert res["files_rewritten"] == 1 and res["files_carried"] == 1
    assert res["rows_deleted"] == 1
    left = {r["doc_id"] for r in t.read().collect()}
    assert left == {"a1", "a2", "b1", "b2"}     # both NULL rows survive


def test_delete_rows_noop_and_whole_file(spark, tmp_path):
    """Matching nothing is a no-op (no new snapshot); matching an entire
    file just drops it from the snapshot (nothing rewritten in its
    place)."""
    t = PyIcebergTable.create(spark, str(tmp_path / "del2"), TOKENS_SCHEMA)
    t.append(_rows(spark, [("a1", [1], 1, "web")]).coalesce(1))
    t.append(_rows(spark, [("b1", [2], 2, "book")]).coalesce(1))
    sid = t.current_snapshot_id()

    res = t.delete_rows("doc_id = 'zzz'")
    assert res == {"snapshot_id": sid, "files_rewritten": 0,
                   "files_carried": 2, "rows_deleted": 0}
    assert t.current_snapshot_id() == sid          # no commit

    res = t.delete_rows("source = 'book'")         # the whole second file
    assert res["rows_deleted"] == 1
    after = t.read()
    assert [r["doc_id"] for r in after.collect()] == ["a1"]
    assert len(after.inputFiles()) == 1


def test_delete_rows_partitioned_carries_other_partition(spark, table):
    """On a partitioned table a delete scoped to one partition leaves the
    other partition's files carried, and the partition tree layout
    survives the rewrite."""
    before = set(t_path for t_path in table.read().inputFiles()
                 if "source=book" in t_path)
    res = table.delete_rows("doc_id = 'd1'")
    assert res["rows_deleted"] == 1
    after = table.read()
    assert sorted(r["doc_id"] for r in after.collect()) == ["d2", "d3"]
    # the book partition was untouched — same physical file
    after_book = set(p for p in after.inputFiles() if "source=book" in p)
    assert after_book == before
    # partition pruning still works post-delete
    assert [r["doc_id"] for r in
            table.read(partition_filter={"source": "book"}).collect()] == \
        ["d3"]


def test_delete_rows_incremental_never_resurfaces_carried_files(spark,
                                                                tmp_path):
    """incremental() across a delete commit sees the rewritten survivors
    (genuinely new files) but NEVER the carried files' rows."""
    t = PyIcebergTable.create(spark, str(tmp_path / "del3"), TOKENS_SCHEMA)
    s1 = t.append(_rows(spark, [("a1", [1], 1, "web"),
                                ("a2", [2], 2, "web")]).coalesce(1))
    t.append(_rows(spark, [("b1", [3], 3, "book"),
                           ("b2", [4], 4, "book")]).coalesce(1))
    t.delete_rows("doc_id = 'b2'")
    delta = t.incremental(s1)
    # batch-2 survivors only: the carried batch-1 file must not reappear
    assert sorted(r["doc_id"] for r in delta.collect()) == ["b1"]


def test_delete_rows_with_stats_filter_hint(spark, tmp_path):
    """A stats_filter consistent with the predicate prunes the probe scan
    at planning time and yields the same result."""
    t = PyIcebergTable.create(spark, str(tmp_path / "del4"), TOKENS_SCHEMA)
    t.append(_rows(spark, [("a1", [1], 10, "web")]).coalesce(1))
    t.append(_rows(spark, [("b1", [2], 20, "web")]).coalesce(1))
    res = t.delete_rows("n_tok >= 15", stats_filter={"n_tok": (15, None)})
    assert res["rows_deleted"] == 1
    assert res["files_rewritten"] == 1
    assert [r["doc_id"] for r in t.read().collect()] == ["a1"]


def test_compact_sort_by_clusters_for_skip_index(spark, tmp_path):
    """Sort-clustered compaction: interleaved values across many small
    files become range-disjoint files, so a stats_filter on the sort
    column opens ONE file instead of all of them."""
    t = PyIcebergTable.create(spark, str(tmp_path / "cl"), TOKENS_SCHEMA)
    # 4 appends, each spanning the whole n_tok range (worst case for skip)
    for i in range(4):
        t.append(_rows(spark, [(f"d{i}a", [1], i + 1, "web"),
                               (f"d{i}b", [2], 100 + i, "web")]).coalesce(1))
    # before clustering every file intersects (100, None)
    assert len(t.read(stats_filter={"n_tok": (100, None)}).inputFiles()) == 4
    t.compact(target_files=2, sort_by=["n_tok"])
    pruned = t.read(stats_filter={"n_tok": (100, None)})
    assert len(pruned.inputFiles()) == 1
    assert sorted(r["doc_id"] for r in pruned.collect()) == \
        ["d0b", "d1b", "d2b", "d3b"]
    # rows preserved exactly
    assert t.read().count() == 8


def test_compact_sort_by_rejects_partitioned(spark, table):
    with pytest.raises(ValueError, match="unpartitioned"):
        table.compact(sort_by=["n_tok"])


# -------------------------------------------------------- schema evolution --

def test_add_column_old_files_read_null(spark, tmp_path):
    """add_column is metadata-only: pre-evolution files read NULL for the
    new column, post-evolution appends carry it, and time travel to the
    pre-evolution snapshot shows the OLD column set."""
    t = PyIcebergTable.create(spark, str(tmp_path / "ev"), TOKENS_SCHEMA)
    s1 = t.append(_rows(spark, [("a1", [1], 1, "web")]))
    files_before = set(t.read().inputFiles())

    sid = t.add_column("quality", T.DoubleType())
    assert sid == 1
    assert "quality" in t.schema().fieldNames()
    # zero data files touched
    assert set(t.read().inputFiles()) == files_before
    assert [r["quality"] for r in t.read().collect()] == [None]

    df2 = spark.createDataFrame([("b1", [2], 1, "web", 0.9)],
                                t.schema())
    t.append(df2)
    got = {r["doc_id"]: r["quality"] for r in t.read().collect()}
    assert got == {"a1": None, "b1": 0.9}
    # the pre-evolution snapshot still reads with ITS schema
    old = t.read(s1)
    assert "quality" not in old.columns
    assert [r["doc_id"] for r in old.collect()] == ["a1"]
    # rejections
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("quality", T.DoubleType())


def test_drop_column_time_travel_keeps_it(spark, tmp_path):
    """drop_column hides the column from the current schema only;
    pre-drop snapshots still show it; partition/last-column drops are
    rejected."""
    t = PyIcebergTable.create(spark, str(tmp_path / "dr"), TOKENS_SCHEMA,
                              partition_by="source")
    s1 = t.append(_rows(spark, [("a1", [1], 1, "web")]))
    t.drop_column("n_tok")
    assert "n_tok" not in t.schema().fieldNames()
    assert "n_tok" not in t.read().columns
    assert [r["doc_id"] for r in t.read().collect()] == ["a1"]
    # time travel to the pre-drop snapshot still projects n_tok
    assert [r["n_tok"] for r in t.read(s1).collect()] == [1]
    # appends after the drop just don't carry the column
    t.append(t.read().where(F.col("doc_id") == "a1")
             .withColumn("doc_id", F.lit("a2")))
    assert sorted(r["doc_id"] for r in t.read().collect()) == ["a1", "a2"]
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("source")
    with pytest.raises(ValueError, match="not in schema"):
        t.drop_column("nope")


def test_incremental_and_delete_after_evolution(spark, tmp_path):
    """The changelog and COW delete keep working across an evolution:
    incremental() between snapshots straddling an add_column reads with
    the TO-snapshot's schema; delete_rows rewrites evolved files fine."""
    t = PyIcebergTable.create(spark, str(tmp_path / "ev2"), TOKENS_SCHEMA)
    s1 = t.append(_rows(spark, [("a1", [1], 1, "web")]))
    t.add_column("quality", T.DoubleType())
    t.append(spark.createDataFrame([("b1", [2], 2, "web", 0.9),
                                    ("b2", [3], 3, "web", 0.1)],
                                   t.schema()))
    delta = t.incremental(s1)
    assert {r["doc_id"]: r["quality"] for r in delta.collect()} == \
        {"b1": 0.9, "b2": 0.1}
    res = t.delete_rows("quality < 0.5")
    assert res["rows_deleted"] == 1
    assert sorted(r["doc_id"] for r in t.read().collect()) == ["a1", "b1"]


# ------------------------------------------------------- merge (COW upsert) --

def test_merge_rows_updates_and_inserts(spark, tmp_path):
    """COW MERGE: matched keys replaced in-place (only their files
    rewrite), unmatched update keys insert, untouched files carry."""
    t = PyIcebergTable.create(spark, str(tmp_path / "mg"), TOKENS_SCHEMA)
    t.append(_rows(spark, [("a1", [1], 1, "web"),
                           ("a2", [2], 2, "web")]).coalesce(1))
    t.append(_rows(spark, [("b1", [3], 3, "book")]).coalesce(1))
    before = set(t.read().inputFiles())

    upd = _rows(spark, [("a2", [9, 9], 2, "web"),     # update
                        ("c1", [7], 1, "wiki")])      # insert
    res = t.merge_rows(upd, key="doc_id")
    assert res["files_rewritten"] == 1      # only a's file held a2
    assert res["files_carried"] == 1        # b's file untouched
    assert res["rows_replaced"] == 1 and res["rows_written"] == 2
    got = {r["doc_id"]: (r["tokens"], r["source"])
           for r in t.read().collect()}
    assert got == {"a1": ([1], "web"), "a2": ([9, 9], "web"),
                   "b1": ([3], "book"), "c1": ([7], "wiki")}
    # the carried file is byte-identical
    assert len(before & set(t.read().inputFiles())) == 1
    # re-merging the same batch is idempotent on values
    res2 = t.merge_rows(upd, key="doc_id")
    assert res2["rows_replaced"] == 2       # both keys now present
    assert t.read().count() == 4


def test_merge_rows_rejects_bad_updates(spark, tmp_path):
    t = PyIcebergTable.create(spark, str(tmp_path / "mg2"), TOKENS_SCHEMA)
    t.append(_rows(spark, [("a1", [1], 1, "web")]))
    with pytest.raises(ValueError, match="missing table columns"):
        t.merge_rows(t.read().drop("n_tok"), key="doc_id")
    with pytest.raises(ValueError, match="key column"):
        t.merge_rows(t.read(), key="nope")


def test_merge_rows_composite_key_partitioned(spark, tmp_path):
    """Composite merge key on a partitioned table: the other partition's
    file is carried; partition layout survives."""
    t = PyIcebergTable.create(spark, str(tmp_path / "mg3"), TOKENS_SCHEMA,
                              partition_by="source")
    t.append(_rows(spark, [("a1", [1], 1, "web"),
                           ("b1", [2], 2, "book")]))
    res = t.merge_rows(_rows(spark, [("a1", [5], 1, "web")]),
                       key=["doc_id", "source"])
    assert res["rows_replaced"] == 1
    got = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert got == {"a1": [5], "b1": [2]}
    assert [r["doc_id"] for r in
            t.read(partition_filter={"source": "book"}).collect()] == ["b1"]


def test_merge_rows_null_safe_key(spark, tmp_path):
    """null_safe=True matches NULL key parts (eqNullSafe): re-merging a
    row keyed with a NULL component updates it instead of duplicating —
    the lineage-table contract."""
    schema = T.StructType([
        T.StructField("k1", T.StringType(), True),
        T.StructField("k2", T.StringType(), True),
        T.StructField("v", T.LongType(), True)])
    t = PyIcebergTable.create(spark, str(tmp_path / "ns"), schema)
    t.append(spark.createDataFrame([("a", None, 1), ("b", "x", 2)], schema))
    upd = spark.createDataFrame([("a", None, 10)], schema)
    # default join semantics: NULL never matches -> would duplicate
    res = t.merge_rows(upd, key=["k1", "k2"], null_safe=True)
    assert res["rows_replaced"] == 1
    got = {(r["k1"], r["k2"]): r["v"] for r in t.read().collect()}
    assert got == {("a", None): 10, ("b", "x"): 2}


def test_compact_zorder_prunes_on_both_columns(spark, tmp_path):
    """Z-order compaction: a space-filling-curve sort keeps every output
    file's bounding box narrow on BOTH listed columns, so a stats_filter
    on EITHER column prunes — linear sort only prunes its leading one."""
    import itertools
    from fhir_data_validation_spark.sources.iceberg_py import zorder_key
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "zo"), schema)
    # 16x16 grid, appended in an order that correlates with NEITHER
    # column, so pre-compaction every file spans both full ranges
    grid = list(itertools.product(range(16), range(16)))
    grid.sort(key=lambda p: (p[0] * 7 + p[1] * 13) % 17)
    rows = [(f"d{a}_{b}", a, b) for a, b in grid]
    t.append(spark.createDataFrame(rows, schema).repartition(4))
    n_all = len(t.read().inputFiles())
    assert len(t.read(stats_filter={"a": (0, 3)}).inputFiles()) == n_all
    t.compact(target_files=16, zorder_by=["a", "b"])
    total = len(t.read().inputFiles())
    qa = len(t.read(stats_filter={"a": (0, 3)}).inputFiles())
    qb = len(t.read(stats_filter={"b": (0, 3)}).inputFiles())
    # a quarter-range query on either axis opens well under half the
    # files (ideal Z-layout: ~ total/4 + boundary boxes)
    assert qa <= total / 2 and qb <= total / 2, (qa, qb, total)
    # rows and values preserved exactly
    got = sorted((r["a"], r["b"]) for r in t.read().collect())
    assert got == sorted(grid)
    # the filtered read returns exactly the matching rows
    assert sorted(r["a"] for r in
                  t.read(stats_filter={"a": (0, 3)}).collect()
                  if r["a"] <= 3) == sorted(
        a for a, _ in grid for _x in [0] if a <= 3)
    # API contract
    with pytest.raises(ValueError, match="mutually"):
        t.compact(sort_by=["a"], zorder_by=["b"])
    df = t.read()
    with pytest.raises(ValueError, match="2-4"):
        zorder_key(df, ["a"])
    with pytest.raises(ValueError, match="locality"):
        zorder_key(df, ["a", "doc_id"])
    with pytest.raises(ValueError, match="<= 63"):
        zorder_key(df, ["a", "b"], bits=32)


def test_zorder_key_interleaves_and_handles_nulls(spark):
    from fhir_data_validation_spark.sources.iceberg_py import zorder_key
    df = spark.createDataFrame(
        [(0, 0), (0, 15), (15, 0), (15, 15), (None, 15), (7, None)],
        "a int, b int")
    z = {(r["a"], r["b"]): r["z"] for r in
         df.withColumn("z", zorder_key(df, ["a", "b"], bits=4)).collect()}
    # corners of a 4-bit grid: a contributes even bit positions, b odd
    assert z[(0, 0)] == 0
    assert z[(15, 0)] == 0b01010101  # a bits only (even positions)
    assert z[(0, 15)] == (z[(15, 0)] << 1)            # b bits only
    assert z[(15, 15)] == z[(15, 0)] | z[(0, 15)]
    # NULLs quantize to bucket 0
    assert z[(None, 15)] == z[(0, 15)]
    assert z[(7, None)] == z[(7, 0)] if (7, 0) in z else True


# ------------------------------------------------- hidden partitioning ----

def test_murmur3_spec_vectors_and_jvm_conformance(spark):
    """The bucket hash must BE Iceberg's Murmur3 x86_32: pinned against
    the spec's published Appendix-B vectors AND against Spark's own JVM
    Murmur3_x86_32 (``F.hash`` = same algorithm at seed 42 over a long's
    8-byte LE encoding) on random longs; the Catalyst masked-arithmetic
    chain must agree with the Python reference bit-for-bit."""
    import random
    import struct

    from fhir_data_validation_spark.sources.iceberg_py import (
        _murmur3_32, _murmur3_long_expr)
    # Iceberg spec Appendix B test vectors
    assert _murmur3_32(struct.pack("<q", 34)) == 2017239379      # int/long
    assert _murmur3_32("iceberg".encode()) == 1210000089         # string
    rnd = random.Random(7)
    vals = ([rnd.randint(-2 ** 63, 2 ** 63 - 1) for _ in range(64)]
            + [0, 1, -1, 34, 2 ** 63 - 1, -2 ** 63])
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    jvm = {r["v"]: r["h"] for r in
           df.select("v", F.hash("v").alias("h")).collect()}
    cat = {r["v"]: r["h"] for r in
           df.select("v", _murmur3_long_expr(F.col("v")).alias("h"))
           .collect()}
    for v in vals:
        assert jvm[v] == _murmur3_32(struct.pack("<q", v), seed=42)
        assert cat[v] == (_murmur3_32(struct.pack("<q", v)) & 0xFFFFFFFF)


def test_bucket_partition_hidden_pruning_and_cow(spark, tmp_path):
    """bucket[N] hidden partitioning: queries filter the SOURCE column,
    pruning happens on the derived hash bucket; COW delete and compaction
    keep the bucket layout."""
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "b"), schema,
                              partition_by=("doc_id", "bucket[4]"))
    t.append(spark.createDataFrame([(f"d{i}", i) for i in range(40)],
                                   schema))
    assert sorted(r["v"] for r in t.read().collect()) == list(range(40))
    n_all = len(t.read().inputFiles())
    one = t.read(partition_filter={"doc_id": "d7"})
    assert len(one.inputFiles()) < n_all            # manifest-level prune
    assert one.where("doc_id = 'd7'").count() == 1
    # layout shows the DERIVED field, data files keep the source column
    assert any("doc_id_bucket=" in f for f in one.inputFiles())
    # list filter
    two = t.read(partition_filter={"doc_id": ["d7", "d8"]})
    assert two.where(F.col("doc_id").isin("d7", "d8")).count() == 2
    # range filters can't prune a hash bucket
    with pytest.raises(ValueError, match="bucket"):
        t.read(partition_filter={"doc_id": ("a", "z")})
    # filters must name the source column
    with pytest.raises(ValueError, match="source column"):
        t.read(partition_filter={"doc_id_bucket": 3})
    # COW delete rewrites only the touched bucket, keeps the layout
    res = t.delete_rows("v = 7")
    assert res["rows_deleted"] == 1 and res["files_carried"] > 0
    assert t.read().count() == 39
    assert t.read(partition_filter={"doc_id": "d8"}) \
            .where("doc_id = 'd8'").count() == 1
    # partitioned compaction: one file per live bucket value
    t.compact(target_files=4)
    assert len(t.read().inputFiles()) <= 4
    assert sorted(r["v"] for r in t.read().collect()) == \
        [i for i in range(40) if i != 7]
    # pruning still works post-compaction
    assert len(t.read(partition_filter={"doc_id": "d8"}).inputFiles()) <= 1


def test_day_partition_timestamp_range_pruning(spark, tmp_path):
    """('ts', 'day') hidden partitioning: a timestamp range opens only the
    days it touches; scalar datetimes, dates and ISO strings all work."""
    import datetime as dt
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("ts", T.TimestampType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "d"), schema,
                              partition_by=("ts", "day"))
    rows = [(f"e{d}_{h}", dt.datetime(2024, 3, 1 + d, h))
            for d in range(4) for h in (0, 12, 23)]
    t.append(spark.createDataFrame(rows, schema))
    n_all = len(t.read().inputFiles())
    rng = t.read(partition_filter={
        "ts": (dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 3, 23, 59))})
    assert len(rng.inputFiles()) < n_all
    assert rng.count() == 6                          # 2 days x 3 rows
    # scalar date / ISO string prune to one day
    assert t.read(partition_filter={"ts": dt.date(2024, 3, 1)}).count() == 3
    assert t.read(partition_filter={"ts": "2024-03-04T05:00:00"}).count() \
        == 3
    # open-ended range
    assert t.read(partition_filter={
        "ts": (dt.datetime(2024, 3, 3), None)}).count() == 6
    # directory layout carries the epoch-day ordinal
    assert any("ts_day=" in f for f in t.read().inputFiles())


def test_truncate_partition_and_create_validation(spark, tmp_path):
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "tr"), schema,
                              partition_by=("doc_id", "truncate[2]"))
    t.append(spark.createDataFrame(
        [("aa1", 1), ("aa2", 2), ("bb1", 3), ("bb2", 4), ("cc1", 5)],
        schema))
    pr = t.read(partition_filter={"doc_id": "aa2"})
    assert {r["doc_id"] for r in pr.collect()} == {"aa1", "aa2"}
    assert len(pr.inputFiles()) < len(t.read().inputFiles())
    # truncate is order-preserving: ranges prune
    assert t.read(partition_filter={"doc_id": ("bb", "cc9")}).count() == 3
    # create-time validation
    with pytest.raises(ValueError, match="transform"):
        PyIcebergTable.create(spark, str(tmp_path / "x1"), schema,
                              partition_by=("doc_id", "pivot[2]"))
    with pytest.raises(ValueError, match="sources"):
        PyIcebergTable.create(spark, str(tmp_path / "x2"), schema,
                              partition_by=("v", "day"))
    with pytest.raises(ValueError, match="sources"):
        PyIcebergTable.create(spark, str(tmp_path / "x3"), schema,
                              partition_by=("doc_id", "hour"))


def test_rollback_tags_and_ancestor_expiry(spark, tmp_path):
    """rollback_to + tags: a bad commit is undone metadata-only; expiry
    keeps the CURRENT snapshot's ancestor chain and every tagged pin —
    never the abandoned branch (which is newer by sequence number, the
    trap a recency-based expiry falls into after a rollback)."""
    t = PyIcebergTable.create(spark, str(tmp_path / "rb"), TOKENS_SCHEMA)
    t.append(_rows(spark, [("a1", [1], 1, "web")]).coalesce(1))
    t.tag("v1")
    s2 = t.append(_rows(spark, [("b1", [2], 1, "web")]).coalesce(1))
    s3 = t.append(_rows(spark, [("BAD", [9], 1, "web")]).coalesce(1))
    assert t.read().count() == 3
    t.rollback_to(s2)
    assert sorted(r["doc_id"] for r in t.read().collect()) == ["a1", "b1"]
    assert t.current_snapshot_id() == s2
    assert t.read(ref="v1").count() == 1           # tag still pinned
    assert t.read(s3).count() == 3                 # branch time-travelable
    # the next append builds on the rolled-back state
    s4 = t.append(_rows(spark, [("c1", [3], 1, "web")]).coalesce(1))
    got = sorted(r["doc_id"] for r in t.read().collect())
    assert got == ["a1", "b1", "c1"]               # BAD is gone
    # expiry: ancestors of current (s4, s2) + the tag (s1); s3 dies
    res = t.expire_snapshots(keep_last=2)
    assert res["snapshots"] == 1 and res["data_files"] == 1
    with pytest.raises(ValueError, match="not found"):
        t.read(s3)
    assert t.read(ref="v1").count() == 1           # tagged pin survived
    assert sorted(r["doc_id"] for r in t.read().collect()) == \
        ["a1", "b1", "c1"]
    # ref plumbing
    with pytest.raises(ValueError, match="not both"):
        t.read(s4, ref="v1")
    with pytest.raises(ValueError, match="no ref"):
        t.read(ref="nope")
    with pytest.raises(ValueError, match="main"):
        t.tag("main")
    t.drop_tag("v1")
    with pytest.raises(ValueError, match="no tag"):
        t.drop_tag("v1")
    # with the tag gone, keep_last=1 reclaims everything but current —
    # whose append chain still reads in full (live files are protected)
    t.expire_snapshots(keep_last=1)
    assert sorted(r["doc_id"] for r in t.read().collect()) == \
        ["a1", "b1", "c1"]


def test_changes_net_changelog(spark, tmp_path):
    """changes(s1, s2): net insert/delete rows from the file-level diff —
    COW-carried rows cancel, updates appear as delete+insert pairs, and a
    pure compaction yields an EMPTY changelog."""
    t = PyIcebergTable.create(spark, str(tmp_path / "cl"), TOKENS_SCHEMA)
    s1 = t.append(_rows(spark, [("a1", [1], 1, "web"),
                                ("a2", [2], 1, "web"),
                                ("a3", [3], 1, "web")]).coalesce(1))
    t.append(_rows(spark, [("b1", [4], 1, "book")]).coalesce(1))
    t.delete_rows("doc_id = 'a2'")
    t.merge_rows(_rows(spark, [("a3", [30], 1, "web"),      # update
                               ("c1", [5], 1, "chat")]),     # insert
                 key="doc_id")
    got = {(r["doc_id"], r["_change_type"], tuple(r["tokens"]))
           for r in t.changes(s1).collect()}
    assert got == {("b1", "insert", (4,)), ("c1", "insert", (5,)),
                   ("a2", "delete", (2,)),
                   ("a3", "delete", (3,)), ("a3", "insert", (30,))}
    # compaction nets to zero
    s_pre = t.current_snapshot_id()
    t.compact(target_files=1)
    assert t.changes(s_pre).count() == 0
    # append-only window: inserts only
    s_now = t.current_snapshot_id()
    t.append(_rows(spark, [("d1", [6], 1, "web")]))
    ch = t.changes(s_now).collect()
    assert [(r["doc_id"], r["_change_type"]) for r in ch] == \
        [("d1", "insert")]

def test_partition_evolution_metadata_only(spark, tmp_path):
    """update_partition_spec: a metadata-only layout change — old files
    keep their day= tree and prune on ts, new files cluster under the
    bucket spec and prune on doc_id; reads union both."""
    import datetime as dt
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("ts", T.TimestampType()),
                           T.StructField("v", T.LongType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "ev"), schema,
                              partition_by=("ts", "day"))
    t.append(spark.createDataFrame(
        [(f"d{i}", dt.datetime(2024, 3, 1 + i % 3, 6), i)
         for i in range(9)], schema))
    old_files = set(t.read().inputFiles())
    s_old = t.current_snapshot_id()

    new_spec = t.update_partition_spec(("doc_id", "bucket[4]"))
    assert new_spec == 1
    # the evolution itself wrote nothing: same snapshot, same files
    assert t.current_snapshot_id() == s_old
    assert set(t.read().inputFiles()) == old_files

    t.append(spark.createDataFrame(
        [(f"n{i}", dt.datetime(2024, 3, 9, 6), 100 + i)
         for i in range(8)], schema))
    all_df = t.read()
    assert all_df.count() == 17
    files = all_df.inputFiles()
    assert any("ts_day=" in f for f in files)          # old layout survives
    assert any("doc_id_bucket=" in f for f in files)   # new layout active

    # ts filter prunes OLD-spec files only; bucketed files are
    # conservatively kept (their spec never transformed ts)
    day1 = t.read(partition_filter={"ts": dt.date(2024, 3, 1)})
    kept = set(day1.inputFiles())
    assert all(f in kept for f in files if "doc_id_bucket=" in f)
    assert len([f for f in kept if "ts_day=" in f]) < \
        len([f for f in files if "ts_day=" in f])
    assert day1.where("ts < timestamp'2024-03-02'").count() == 3

    # doc_id filter prunes NEW-spec files only; day files all kept
    one = t.read(partition_filter={"doc_id": "n3"})
    kept = set(one.inputFiles())
    assert all(f in kept for f in files if "ts_day=" in f)
    assert len([f for f in kept if "doc_id_bucket=" in f]) < \
        len([f for f in files if "doc_id_bucket=" in f])
    assert one.where("doc_id = 'n3'").count() == 1

    # a filter column no spec ever transformed still raises
    with pytest.raises(ValueError, match="source column"):
        t.read(partition_filter={"v": 3})
    # time travel to the pre-evolution snapshot still works
    assert t.read(snapshot_id=s_old).count() == 9


def test_partition_evolution_cow_carries_old_spec(spark, tmp_path):
    """COW delete across an evolution: carried old-spec entries keep
    their spec-shaped partition records (one manifest per spec), rewrites
    land under the new default spec, and incremental() stays honest."""
    import datetime as dt
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("ts", T.TimestampType()),
                           T.StructField("v", T.LongType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "evc"), schema,
                              partition_by=("ts", "day"))
    t.append(spark.createDataFrame(
        [(f"d{i}", dt.datetime(2024, 3, 1 + i % 3, 6), i)
         for i in range(9)], schema))
    t.update_partition_spec(("doc_id", "bucket[4]"))
    s_mid = t.append(spark.createDataFrame(
        [(f"n{i}", dt.datetime(2024, 3, 9, 6), 100 + i)
         for i in range(8)], schema))

    # delete hits one old-spec row and one new-spec row in one commit
    res = t.delete_rows("doc_id in ('d4', 'n2')")
    assert res["rows_deleted"] == 2 and res["files_carried"] > 0
    assert t.read().count() == 15
    assert t.read().where("doc_id in ('d4','n2')").count() == 0
    # carried files keep pruning under their own spec (day 2 held v in
    # {1, 4, 7}; the delete removed d4)
    assert t.read(partition_filter={"ts": dt.date(2024, 3, 2)}) \
            .where("v < 100").count() == 2
    # rewritten files cluster under the NEW spec's tree
    rewritten = [f for f in t.read().inputFiles()
                 if "doc_id_bucket=" in f]
    assert rewritten
    # incremental across the evolution+delete sees only genuinely new rows
    inc = t.incremental(s_mid)
    assert inc.count() < 15 and inc.where("doc_id = 'd4'").count() == 0
    # changes() nets the delete correctly across mixed specs
    got = {(r["doc_id"], r["_change_type"])
           for r in t.changes(s_mid).collect()}
    assert got == {("d4", "delete"), ("n2", "delete")}


def test_partition_evolution_same_name_different_bucket(spark, tmp_path):
    """bucket[2] -> bucket[4] on the same column: both specs share the
    field NAME doc_id_bucket but not the transform — each manifest must
    prune with its own spec's hash, never the other's."""
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "evb"), schema,
                              partition_by=("doc_id", "bucket[2]"))
    rows = [(f"d{i}", i) for i in range(16)]
    t.append(spark.createDataFrame(rows, schema))
    t.update_partition_spec(("doc_id", "bucket[4]"))
    t.append(spark.createDataFrame([(f"n{i}", 100 + i) for i in range(16)],
                                   schema))
    # every key remains findable through the filter (each spec hashes it
    # with its own modulus)
    for key, want in [("d5", 1), ("n5", 1), ("zz", 0)]:
        got = t.read(partition_filter={"doc_id": key}) \
               .where(F.col("doc_id") == key).count()
        assert got == want, key
    # and the filter actually prunes on both sides
    sub = t.read(partition_filter={"doc_id": "d5"}).inputFiles()
    assert len(sub) < len(t.read().inputFiles())


def test_partition_evolution_identity_to_transform(spark, tmp_path):
    """identity -> bucket evolution: identity files physically LACK the
    partition column (directory-derived) while transform files keep every
    source column — the read must reconcile both in one DataFrame."""
    t = PyIcebergTable.create(spark, str(tmp_path / "evi"), TOKENS_SCHEMA,
                              partition_by="source")
    t.append(_rows(spark, [("d1", [1], 1, "web"), ("d2", [2], 1, "book")]))
    t.update_partition_spec(("doc_id", "bucket[4]"))
    t.append(_rows(spark, [("d3", [3], 1, "web"), ("d4", [4], 1, "chat")]))
    got = {(r["doc_id"], r["source"]) for r in t.read().collect()}
    assert got == {("d1", "web"), ("d2", "book"),
                   ("d3", "web"), ("d4", "chat")}
    # the identity column is populated for BOTH file generations
    assert t.read().where(F.col("source").isNull()).count() == 0
    # evolve to unpartitioned: next append goes flat, reads still union
    t.update_partition_spec(None)
    t.append(_rows(spark, [("d5", [5], 1, "web")]))
    assert t.read().count() == 5
    # pruning on source still prunes generation-1 files only
    web = t.read(partition_filter={"source": "web"})
    assert web.where("source = 'web'").count() == 3

def test_rewrite_manifests_compacts_planning_metadata(spark, tmp_path):
    """rewrite_manifests: N append manifests -> 1 per spec, zero data
    files touched; incremental/changes across the rewrite stay silent;
    stats pruning keeps working through the carried bounds."""
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "rm"), schema)
    for i in range(5):
        t.append(spark.createDataFrame(
            [(f"d{i}_{j}", i * 100 + j) for j in range(10)],
            schema).coalesce(1))
    s_pre = t.current_snapshot_id()
    files_pre = set(t.read().inputFiles())
    res = t.rewrite_manifests()
    assert res["manifests_before"] == 5 and res["manifests_after"] == 1
    # live data is byte-identical: same files, same rows
    assert set(t.read().inputFiles()) == files_pre
    assert t.read().count() == 50
    # a metadata-only commit produces no incremental rows and no changes
    assert t.incremental(s_pre).count() == 0
    assert t.changes(s_pre).count() == 0
    # skip-index pruning survives the rewrite (carried bounds)
    sel = t.read(stats_filter={"v": (100, 199)})
    assert len(sel.inputFiles()) == 1
    assert sel.where("v between 100 and 199").count() == 10
    # the pre-rewrite snapshot still time-travels through its own manifests
    assert t.read(snapshot_id=s_pre).count() == 50
    # later appends chain on the compacted manifest list
    t.append(spark.createDataFrame([("x", 999)], schema))
    assert t.read().count() == 51
    # expire reclaims the old per-commit manifests without touching data
    t.expire_snapshots(keep_last=1)
    assert t.read().count() == 51


def test_rewrite_manifests_across_partition_evolution(spark, tmp_path):
    """rewrite_manifests groups carried entries per spec — one manifest
    per generation — and per-spec pruning keeps working afterwards."""
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "rme"), schema,
                              partition_by=("doc_id", "truncate[1]"))
    for j in range(3):
        t.append(spark.createDataFrame(
            [(f"a{j}", j), (f"b{j}", 10 + j)], schema))
    t.update_partition_spec(("doc_id", "bucket[4]"))
    for j in range(3):
        t.append(spark.createDataFrame([(f"c{j}", 20 + j)], schema))
    res = t.rewrite_manifests()
    assert res["manifests_before"] == 6 and res["manifests_after"] == 2
    assert t.read().count() == 9
    # both generations still prune under their own spec
    sub = t.read(partition_filter={"doc_id": "a1"})
    assert sub.where("doc_id = 'a1'").count() == 1
    assert len(sub.inputFiles()) < len(t.read().inputFiles())


def test_partitions_metadata_view(spark, table):
    """partitions(): per-(spec, value) file/record rollup from manifests."""
    got = {json.loads(r["partition"])["source"]:
           (r["file_count"], r["record_count"])
           for r in table.partitions().collect()}
    assert got["web"][1] == 2 and got["book"][1] == 1
    assert all(r["spec_id"] == 0 for r in table.partitions().collect())
    # evolves with the data: a second append grows the counts
    table.append(_rows(spark, [("d9", [9], 1, "web")]))
    got2 = {json.loads(r["partition"])["source"]: r["record_count"]
            for r in table.partitions().collect()}
    assert got2["web"] == 3


# ------------------------------------------------- merge-on-read deletes ---

V_SCHEMA = T.StructType([T.StructField("doc_id", T.StringType()),
                         T.StructField("v", T.LongType())])


def _vt(spark, tmp_path, name, batches):
    t = PyIcebergTable.create(spark, str(tmp_path / name), V_SCHEMA)
    for lo, hi in batches:
        t.append(spark.createDataFrame(
            [(f"d{i}", i) for i in range(lo, hi)], V_SCHEMA).coalesce(1))
    return t


def test_mor_delete_zero_rewrite_time_travel_and_views(spark, tmp_path):
    """mode='mor': rows vanish, data files do not move, time travel sees
    the pre-delete rows, delete_files() reports the debt, incremental
    stays silent and changes() emits exactly the deleted rows."""
    t = _vt(spark, tmp_path, "mor1", [(0, 10), (10, 20), (20, 30)])
    s_pre = t.current_snapshot_id()
    files_pre = set(t.read().inputFiles())
    res = t.delete_rows("v % 10 = 3", mode="mor")
    assert res["files_rewritten"] == 0 and res["rows_deleted"] == 3
    # every pre-delete data file is still scanned (plus the delete files)
    assert files_pre <= set(t.read().inputFiles())
    got = {r["v"] for r in t.read().collect()}
    assert got == {i for i in range(30) if i % 10 != 3}
    assert t.read(snapshot_id=s_pre).count() == 30
    assert t.delete_files().count() >= 1
    assert t.delete_files().agg(F.sum("record_count")).first()[0] == 3
    # a row already MOR-deleted is never deleted twice
    res2 = t.delete_rows("v % 10 = 3 OR v = 5", mode="mor")
    assert res2["rows_deleted"] == 1
    assert t.read().count() == 26
    # matching nothing is a metadata no-op
    res3 = t.delete_rows("v = 999", mode="mor")
    assert res3["rows_deleted"] == 0
    assert res3["snapshot_id"] == t.current_snapshot_id()
    # append-driven incremental never surfaces a MOR delete...
    assert t.incremental(s_pre).count() == 0
    # ...while the net changelog shows exactly the deleted rows
    ch = t.changes(s_pre).collect()
    assert {r["_change_type"] for r in ch} == {"delete"}
    assert {r["v"] for r in ch} == {3, 13, 23, 5}
    # summary records the row-delta operation
    last = t.snapshots().orderBy(F.desc("committed_at")).first()
    assert last["operation"] == "delete"


def test_mor_stats_filter_prunes_probe(spark, tmp_path):
    """The skip index prunes MOR probe candidates exactly as for COW."""
    t = _vt(spark, tmp_path, "mor2", [(0, 10), (100, 110)])
    res = t.delete_rows("v = 105", mode="mor",
                        stats_filter={"v": (100, 199)})
    assert res["rows_deleted"] == 1
    assert t.read().count() == 19
    sel = t.read(stats_filter={"v": (0, 9)})
    assert sel.count() == 10


def test_mor_then_cow_delete_no_resurrection(spark, tmp_path):
    """A COW rewrite of a file carrying MOR deletes materializes them;
    MOR deletes on untouched files keep applying via the carried delete
    manifest."""
    t = _vt(spark, tmp_path, "mor3", [(0, 10), (10, 20)])
    t.delete_rows("v = 3", mode="mor")    # hits file 1
    t.delete_rows("v = 13", mode="mor")   # hits file 2
    r = t.delete_rows("v = 4")            # COW, rewrites file 1 only
    assert r["files_rewritten"] == 1
    got = {row["v"] for row in t.read().collect()}
    assert got == set(range(20)) - {3, 4, 13}
    # the COW probe must not count already-MOR-deleted rows as matches
    r2 = t.delete_rows("v = 3")           # already gone -> no-op
    assert r2["files_rewritten"] == 0 and r2["rows_deleted"] == 0


def test_mor_then_merge_rows_no_resurrection(spark, tmp_path):
    t = _vt(spark, tmp_path, "mor4", [(0, 5)])
    t.delete_rows("v = 2", mode="mor")
    ups = spark.createDataFrame([("d1", 100), ("d9", 9)], V_SCHEMA)
    t.merge_rows(ups, key="doc_id")
    got = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert got == {"d0": 0, "d1": 100, "d3": 3, "d4": 4, "d9": 9}


def test_mor_compact_materializes_deletes(spark, tmp_path):
    """compact() folds rewrite_position_deletes into the data rewrite:
    afterwards zero delete files remain, the rows stay gone, and the
    changelog across the compaction is EMPTY (no logical change)."""
    t = _vt(spark, tmp_path, "mor5", [(0, 10), (10, 20), (20, 30)])
    t.delete_rows("v IN (1, 11, 21)", mode="mor")
    s_mid = t.current_snapshot_id()
    t.compact(target_files=2)
    assert t.delete_files().count() == 0
    got = {r["v"] for r in t.read().collect()}
    assert got == set(range(30)) - {1, 11, 21}
    assert t.changes(s_mid).count() == 0
    # expire reclaims the materialized delete files from disk
    rec = t.expire_snapshots(keep_last=1)
    assert rec["snapshots"] >= 1
    assert t.read().count() == 27


def test_mor_rewrite_manifests_carries_delete_manifests(spark, tmp_path):
    t = _vt(spark, tmp_path, "mor6", [(0, 10), (10, 20), (20, 30)])
    t.delete_rows("v = 7", mode="mor")
    res = t.rewrite_manifests()
    assert res["manifests_after"] == 1
    got = {r["v"] for r in t.read().collect()}
    assert got == set(range(30)) - {7}
    assert t.delete_files().count() == 1
    # and further MOR deletes chain on the compacted list
    t.delete_rows("v = 8", mode="mor")
    assert t.read().count() == 28


def test_mor_partitioned_table(spark, table):
    """MOR on an identity-partitioned table: partition pruning and the
    delete anti-join compose."""
    table.delete_rows("doc_id = 'd2'", mode="mor")
    assert {r["doc_id"] for r in table.read().collect()} == {"d1", "d3"}
    web = table.read(partition_filter={"source": "web"})
    assert {r["doc_id"] for r in web.collect()} == {"d1"}
    book = table.read(partition_filter={"source": "book"})
    assert book.count() == 1


def test_mor_token_array_equality_roundtrip(spark, table):
    """Per-row invariant: token arrays of surviving rows are byte-equal
    through a MOR delete (the anti-join must not touch payloads)."""
    before = {r["doc_id"]: r["tokens"] for r in table.read().collect()}
    table.delete_rows("doc_id = 'd1'", mode="mor")
    after = {r["doc_id"]: r["tokens"] for r in table.read().collect()}
    assert after == {k: v for k, v in before.items() if k != "d1"}


# ---------------------------------------------- equality deletes / upsert ---

def test_eq_delete_blind_write_and_sequence_rule(spark, tmp_path):
    """delete_rows_eq writes the key set with NO table scan; the delete
    applies only to files with a LOWER sequence — rows re-appended later
    under the same key survive until a NEWER delete covers them."""
    t = _vt(spark, tmp_path, "eq1", [(0, 10)])
    s1 = t.current_snapshot_id()
    r = t.delete_rows_eq(spark.createDataFrame(
        [("d3",), ("d7",), ("nope",)], "doc_id string"))
    assert r["keys_deleted"] == 3
    got = {x["doc_id"] for x in t.read().collect()}
    assert got == {f"d{i}" for i in range(10)} - {"d3", "d7"}
    assert t.read(snapshot_id=s1).count() == 10
    assert {x["content"] for x in t.delete_files().collect()} == {2}
    # sequence rule: a NEW row for a deleted key (higher seq) survives
    t.append(spark.createDataFrame([("d3", 1000)], V_SCHEMA))
    m = {x["doc_id"]: x["v"] for x in t.read().collect()}
    assert m["d3"] == 1000
    # a newer delete covers it
    t.delete_rows_eq(spark.createDataFrame([("d3",)], "doc_id string"))
    assert "d3" not in {x["doc_id"] for x in t.read().collect()}
    # empty key set is a no-op; unknown column raises
    sid = t.current_snapshot_id()
    r2 = t.delete_rows_eq(spark.createDataFrame([], "doc_id string"))
    assert r2["keys_deleted"] == 0 and r2["snapshot_id"] == sid
    with pytest.raises(ValueError, match="not in"):
        t.delete_rows_eq(spark.createDataFrame([("x",)], "bogus string"))


def test_mor_upsert_row_delta(spark, tmp_path):
    """merge_rows(mode='mor'): ONE commit = appended updates + equality
    delete of their keys; latest version wins across repeated upserts;
    zero rewrites; changes() nets intermediate versions away; compact
    materializes everything."""
    t = _vt(spark, tmp_path, "eq2", [(0, 10)])
    s1 = t.current_snapshot_id()
    r = t.merge_rows(spark.createDataFrame([("d1", 100), ("d99", 99)],
                                           V_SCHEMA),
                     key="doc_id", mode="mor")
    assert r["files_rewritten"] == 0
    assert r["rows_written"] == 2 and r["keys_deleted"] == 2
    t.merge_rows(spark.createDataFrame([("d1", 200)], V_SCHEMA),
                 key="doc_id", mode="mor")
    m = {x["doc_id"]: x["v"] for x in t.read().collect()}
    assert m["d1"] == 200 and m["d99"] == 99 and m["d0"] == 0
    assert len(m) == 11
    # net changelog: d1's intermediate version (100) cancels entirely
    ch = sorted((x["_change_type"], x["doc_id"], x["v"])
                for x in t.changes(s1).collect())
    assert ch == [("delete", "d1", 1), ("insert", "d1", 200),
                  ("insert", "d99", 99)]
    # appends-driven incremental() sees the new versions (both upserts)
    inc = {(x["doc_id"], x["v"]) for x in t.incremental(s1).collect()}
    assert inc == {("d1", 100), ("d1", 200), ("d99", 99)}
    # compaction materializes the delta: no delete files, same rows
    t.compact(target_files=1)
    assert t.delete_files().count() == 0
    assert {x["doc_id"]: x["v"] for x in t.read().collect()} == m
    # and the changelog across the compaction is empty
    assert t.changes(t.current_snapshot_id()).count() == 0


def test_eq_delete_interplay_with_cow_and_pos(spark, tmp_path):
    """All three delete flavors compose: eq + positional + COW on one
    table, no resurrection anywhere."""
    t = _vt(spark, tmp_path, "eq3", [(0, 10), (10, 20)])
    t.delete_rows_eq(spark.createDataFrame([("d4",)], "doc_id string"))
    t.delete_rows("v = 15", mode="mor")      # positional
    t.delete_rows("v = 2")                   # COW
    got = {x["v"] for x in t.read().collect()}
    assert got == set(range(20)) - {4, 15, 2}
    # the COW probe must not count rows already eq/pos-deleted
    r = t.delete_rows("v IN (4, 15)")
    assert r["rows_deleted"] == 0 and r["files_rewritten"] == 0
    # rewrite_manifests carries BOTH delete kinds
    t.rewrite_manifests()
    assert {x["v"] for x in t.read().collect()} == got
    assert t.delete_files().count() >= 2


def test_eq_delete_partitioned_table(spark, table):
    table.delete_rows_eq(spark.createDataFrame([("d3",)], "doc_id string"))
    assert {r["doc_id"] for r in table.read().collect()} == {"d1", "d2"}
    web = table.read(partition_filter={"source": "web"})
    assert {r["doc_id"] for r in web.collect()} == {"d1", "d2"}
    # upsert into the partitioned layout (derived dirs keep working)
    table.merge_rows(_rows(spark, [("d1", [9, 9], 2, "web")]),
                     key="doc_id", mode="mor")
    m = {r["doc_id"]: r["n_tok"] for r in table.read().collect()}
    assert m["d1"] == 2


def test_stream_sink_upsert_mode(spark, tmp_path):
    """IcebergStreamSink(mode='upsert'): per-epoch MOR upsert with the
    replay guard — re-delivering an epoch changes nothing."""
    from fhir_data_validation_spark.streaming.sink import IcebergStreamSink
    t = _vt(spark, tmp_path, "eq4", [(0, 5)])
    sink = IcebergStreamSink(t, "cdc", mode="upsert", key="doc_id")
    sink(spark.createDataFrame([("d1", 100), ("d9", 9)], V_SCHEMA), 0)
    sink(spark.createDataFrame([("d1", 200)], V_SCHEMA), 1)
    m = {x["doc_id"]: x["v"] for x in t.read().collect()}
    assert m["d1"] == 200 and m["d9"] == 9 and len(m) == 6
    # checkpoint replay of epoch 1: ignored, even from a fresh process
    sink2 = IcebergStreamSink(t, "cdc", mode="upsert", key="doc_id")
    sink2(spark.createDataFrame([("d1", 999)], V_SCHEMA), 1)
    assert {x["v"] for x in t.read().where("doc_id='d1'").collect()} \
        == {200}
    with pytest.raises(ValueError, match="key"):
        IcebergStreamSink(t, "x", mode="upsert")


# ------------------------------------------------------- orphan cleanup ---

def test_remove_orphan_files(spark, tmp_path):
    """Crashed-commit debris (staged files, promoted-but-uncommitted
    parquet) sweeps away; every referenced file — including ones only an
    OLD snapshot references — survives; fresh files survive the grace
    window."""
    t = _vt(spark, tmp_path, "orph", [(0, 10), (10, 20)])
    s1 = t.current_snapshot_id()
    t.delete_rows("v = 3", mode="mor")   # a delete file must survive too
    loc = t.location
    # simulate a crashed commit: leftover staging dir + a stray promoted
    # file no manifest references
    stray = spark.createDataFrame([("zz", 999)], V_SCHEMA)
    stray.coalesce(1).write.parquet(f"{loc}/_staging/deadbeef")
    stray.coalesce(1).write.parquet(f"{loc}/data/deadd00d-orphan")
    pre = t.read().count()
    # grace window keeps everything (files are seconds old)
    r0 = t.remove_orphan_files()
    assert r0["orphan_files"] == 0
    # zero grace sweeps only the unreferenced debris
    r = t.remove_orphan_files(older_than_ms=0)
    assert r["orphan_files"] >= 2 and r["bytes_reclaimed"] > 0
    assert t.read().count() == pre
    assert t.read(snapshot_id=s1).count() == 20      # old snapshot intact
    got = {x["v"] for x in t.read().collect()}
    assert got == set(range(20)) - {3}
    # idempotent
    assert t.remove_orphan_files(older_than_ms=0)["orphan_files"] == 0


# -------------------------------------- branches / WAP / concurrency ------

def test_branch_wap_stage_audit_publish(spark, tmp_path):
    """Write-audit-publish: a batch staged on a branch is invisible to
    main readers until fast_forward publishes it atomically."""
    t = _vt(spark, tmp_path, "wap", [(0, 10)])
    t.branch("audit")
    t.append(spark.createDataFrame([("s1", 100), ("s2", 101)],
                                   V_SCHEMA).coalesce(1), branch="audit")
    # main unchanged, audit sees main's history + the staged batch
    assert t.read().count() == 10
    assert t.read(ref="audit").count() == 12
    # snapshots() (main history) does not advance while staging
    main_log_before = t._load_meta()["snapshot-log"]
    published = t.fast_forward("main", "audit")
    meta = t._load_meta()
    assert meta["current-snapshot-id"] == published
    assert t.read().count() == 12
    # publish appends the branch's commits to main's history log
    assert len(meta["snapshot-log"]) == len(main_log_before) + 1
    # idempotent fast-forward
    assert t.fast_forward("main", "audit") == published


def test_branch_reject_drop_and_expire_reclaims(spark, tmp_path):
    """A failed-audit branch is dropped; expire_snapshots then reclaims
    the staged snapshot's data files (they are non-ancestors of main)."""
    t = _vt(spark, tmp_path, "wap_rej", [(0, 5)])
    t.branch("audit")
    t.append(spark.createDataFrame([("bad", -1)], V_SCHEMA).coalesce(1),
             branch="audit")
    staged_sid = t._load_meta()["refs"]["audit"]["snapshot-id"]
    staged_files = {r["file_path"]
                    for r in t.files(snapshot_id=staged_sid).collect()}
    main_files = {r["file_path"] for r in t.files().collect()}
    bad_files = staged_files - main_files
    assert bad_files
    t.drop_branch("audit")
    res = t.expire_snapshots(keep_last=5)      # main chain fully kept
    assert res["snapshots"] == 1
    from fhir_data_validation_spark.fsutil import exists
    assert all(not exists(spark, p) for p in bad_files)
    assert t.read().count() == 5               # main untouched


def test_branch_on_empty_table_first_batch(spark, tmp_path):
    t = PyIcebergTable.create(spark, str(tmp_path / "wap0"), V_SCHEMA)
    t.branch("stage")
    assert t.read(ref="stage").count() == 0    # typed empty frame
    assert [f.name for f in t.read(ref="stage").schema.fields] == \
        ["doc_id", "v"]
    t.append(spark.createDataFrame([("a", 1)], V_SCHEMA).coalesce(1),
             branch="stage")
    assert t.read().count() == 0               # still unpublished
    t.fast_forward("main", "stage")
    assert t.read().count() == 1


def test_fast_forward_diverged_raises(spark, tmp_path):
    t = _vt(spark, tmp_path, "wap_div", [(0, 3)])
    t.branch("audit")
    t.append(spark.createDataFrame([("m", 50)], V_SCHEMA).coalesce(1))
    t.append(spark.createDataFrame([("b", 60)], V_SCHEMA).coalesce(1),
             branch="audit")
    with pytest.raises(ValueError, match="diverged"):
        t.fast_forward("main", "audit")
    # the branch itself can still be read and dropped
    assert t.read(ref="audit").count() == 4
    t.drop_branch("audit")


def test_branch_validation_errors(spark, tmp_path):
    t = _vt(spark, tmp_path, "wap_err", [(0, 2)])
    with pytest.raises(ValueError, match="no branch"):
        t.append(spark.createDataFrame([("x", 1)], V_SCHEMA),
                 branch="nope")
    t.tag("pin")
    with pytest.raises(ValueError, match="already exists"):
        t.branch("pin")                        # name collides with a tag
    with pytest.raises(ValueError, match="no branch"):
        t.fast_forward("main", "pin")          # tags are not branches
    with pytest.raises(ValueError, match="cannot drop"):
        t.drop_branch("main")


def test_concurrent_appends_rebase_and_serialize(spark, tmp_path):
    """Optimistic concurrency: simultaneous appends from independent
    writers all land; sequence numbers serialize; no rows are lost."""
    import threading

    loc = str(tmp_path / "conc")
    PyIcebergTable.create(spark, loc, V_SCHEMA)
    errs = []
    bar = threading.Barrier(3)

    def writer(i):
        try:
            tt = PyIcebergTable(spark, loc)
            df = spark.createDataFrame(
                [(f"w{i}-{j}", i * 100 + j) for j in range(4)],
                V_SCHEMA).coalesce(1)
            bar.wait()
            tt.append(df)
        except Exception as exc:               # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    t = PyIcebergTable(spark, loc)
    assert t.read().count() == 12
    meta = t._load_meta()
    assert sorted(s["sequence-number"] for s in meta["snapshots"]) == \
        [1, 2, 3]
    # parent links form one serialized chain
    chain = t._ancestors(meta, meta["current-snapshot-id"])
    assert len(chain) == 3


def test_commit_conflict_simulated_rebase(spark, tmp_path, monkeypatch):
    """A lost CAS race rebases the append onto the new head and retries —
    without duplicating rows or manifests."""
    from fhir_data_validation_spark.sources import iceberg_py as ice

    t = _vt(spark, tmp_path, "conf", [(0, 3)])
    real = ice.PyIcebergTable._commit_meta
    calls = {"n": 0}

    def flaky(self, meta, old_version):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise ice.CommitConflictError("simulated")
        return real(self, meta, old_version)

    monkeypatch.setattr(ice.PyIcebergTable, "_commit_meta", flaky)
    t.append(spark.createDataFrame([("x", 9)], V_SCHEMA).coalesce(1))
    monkeypatch.setattr(ice.PyIcebergTable, "_commit_meta", real)
    assert calls["n"] == 3
    assert t.read().count() == 4
    assert {r["v"] for r in t.read().collect()} == {0, 1, 2, 9}


def test_commit_conflict_not_rebased_for_cow(spark, tmp_path, monkeypatch):
    """COW row-level ops scanned a specific snapshot — a conflict must
    surface, never silently rebase."""
    from fhir_data_validation_spark.sources import iceberg_py as ice

    t = _vt(spark, tmp_path, "conf_cow", [(0, 6)])

    def always_conflict(self, meta, old_version):
        raise ice.CommitConflictError("simulated")

    monkeypatch.setattr(ice.PyIcebergTable, "_commit_meta", always_conflict)
    with pytest.raises(ice.CommitConflictError):
        t.delete_rows("v = 2")


def test_sequence_number_inheritance_in_manifests(spark, tmp_path):
    """ADDED entries write a NULL sequence number into the manifest Avro
    (spec inheritance) and inherit the manifest list's at read time."""
    t = _vt(spark, tmp_path, "inherit", [(0, 2), (2, 4)])
    meta = t._load_meta()
    for mf in t._manifest_list(meta, meta["current-snapshot-id"]):
        _, _, raw = avro_io.read_container(
            __import__("fhir_data_validation_spark.fsutil",
                       fromlist=["read_bytes"]).read_bytes(
                spark, mf["manifest_path"]))
        assert all(e["sequence_number"] is None for e in raw
                   if e["status"] == 1)
        inherited = t._manifest_entries_of(mf)
        assert all(e["sequence_number"] == mf["sequence_number"]
                   for e in inherited if e["status"] == 1)
    # the inherited numbers drive incremental() correctly
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    inc = t.incremental(snaps[0]["snapshot-id"], snaps[1]["snapshot-id"])
    assert {r["v"] for r in inc.collect()} == {2, 3}


def test_stale_version_hint_recovery(spark, tmp_path):
    """A stale version-hint (crashed writer) is transparently recovered by
    probing forward to the newest version file."""
    from fhir_data_validation_spark.fsutil import write_bytes

    t = _vt(spark, tmp_path, "stale", [(0, 2), (2, 5)])
    assert t._current_version() == 3           # create + 2 appends
    write_bytes(spark, f"{t._meta_dir}/version-hint.text", b"1")
    assert t._current_version() == 3           # probed forward
    assert t.read().count() == 5
    t.append(spark.createDataFrame([("z", 99)], V_SCHEMA).coalesce(1))
    assert t._current_version() == 4
    assert t.read().count() == 6


# --------------------------------------- rename / type-widening evolution --

def test_rename_column_metadata_only(spark, tmp_path):
    """Rename is a metadata commit; files written under the old name keep
    serving through the coalesce reconstruction, new files carry the new
    name, and time travel shows each snapshot's own column set."""
    t = _vt(spark, tmp_path, "ren", [(0, 3)])
    s1 = t.current_snapshot_id()
    t.rename_column("v", "val")
    assert t.read().columns == ["doc_id", "val"]
    assert {r["val"] for r in t.read().collect()} == {0, 1, 2}
    # post-rename append mixes old-name and new-name files in one scan
    t.append(spark.createDataFrame(
        [("x", 9)], "doc_id string, val long").coalesce(1))
    assert {r["val"] for r in t.read().collect()} == {0, 1, 2, 9}
    # pre-rename snapshot time-travels with ITS name
    assert t.read(snapshot_id=s1).columns == ["doc_id", "v"]
    # rename back-and-forth keeps working (same field-id throughout)
    t.rename_column("val", "v")
    assert {r["v"] for r in t.read().collect()} == {0, 1, 2, 9}


def test_widen_column_int_to_long(spark, tmp_path):
    sch = T.StructType([T.StructField("doc_id", T.StringType()),
                        T.StructField("n", T.IntegerType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "wide"), sch)
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], sch).coalesce(1))
    t.widen_column("n", T.LongType())
    t.append(spark.createDataFrame(
        [("c", 1 << 40)], "doc_id string, n long").coalesce(1))
    df = t.read()
    assert dict(df.dtypes)["n"] == "bigint"
    assert {r["n"] for r in df.collect()} == {1, 2, 1 << 40}
    # widen is idempotent; narrowing raises
    t.widen_column("n", T.LongType())
    with pytest.raises(ValueError, match="allowed promotions"):
        t.widen_column("n", T.IntegerType())
    with pytest.raises(ValueError, match="allowed promotions"):
        t.widen_column("doc_id", T.LongType())


def test_rename_then_widen_full_lifecycle(spark, tmp_path):
    """Rename + widen compose with COW delete, MOR delete and compact —
    the mixed-name mixed-width files never leak into results."""
    sch = T.StructType([T.StructField("doc_id", T.StringType()),
                        T.StructField("n_tok", T.IntegerType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "rw"), sch,
                              partition_by=("doc_id", "bucket[4]"))
    t.append(spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], sch))
    t.rename_column("n_tok", "tok_count")
    t.widen_column("tok_count", T.LongType())
    t.append(spark.createDataFrame(
        [("d", 4)], "doc_id string, tok_count long"))
    # skip-index bounds recorded under the OLD name still prune/filter
    assert t.read(stats_filter={"tok_count": (3, None)}).count() >= 2
    t.delete_rows("tok_count = 2")               # COW across old files
    t.delete_rows("tok_count = 1", mode="mor")   # MOR across old files
    assert sorted(r["doc_id"] for r in t.read().collect()) == ["c", "d"]
    t.compact()                                  # migrates to current name
    assert sorted((r["doc_id"], r["tok_count"])
                  for r in t.read().collect()) == [("c", 3), ("d", 4)]


def test_rename_guards(spark, tmp_path):
    sch = T.StructType([T.StructField("doc_id", T.StringType()),
                        T.StructField("v", T.LongType()),
                        T.StructField("source", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "reng"), sch,
                              partition_by="source")
    t.append(spark.createDataFrame([("a", 1, "web")], sch))
    with pytest.raises(ValueError, match="different field"):
        t.rename_column("v", "doc_id")
    with pytest.raises(ValueError, match="identity-partition"):
        t.rename_column("source", "src")
    with pytest.raises(ValueError, match="not in schema"):
        t.rename_column("nope", "x")
    # a name once borne by ANOTHER field stays forbidden forever
    t.rename_column("v", "val")
    t.add_column("w", T.LongType())
    with pytest.raises(ValueError, match="different field"):
        t.rename_column("w", "v")
    # equality-delete keys block rename until the debt materializes
    t.delete_rows_eq(spark.createDataFrame([("a",)], "doc_id string"))
    with pytest.raises(ValueError, match="equality-delete"):
        t.rename_column("doc_id", "id")
    t.compact()
    t.rename_column("doc_id", "id")
    assert t.read().columns == ["id", "val", "source", "w"]


def test_run_validation_cli_wap_gate(spark, tmp_path):
    """CLI write-audit-publish gate: a failing staged batch drops its
    branch (main never sees it); a passing one fast-forwards main."""
    import json as _json
    from jobs.run_validation import main

    loc = str(tmp_path / "wapcli")
    t = PyIcebergTable.create(spark, loc, TOKENS_SCHEMA,
                              partition_by="source")
    t.append(_rows(spark, [("d1", [1, 2], 2, "web")]))
    rules = str(tmp_path / "rules.json")
    with open(rules, "w") as f:
        _json.dump({"rules": [{"id": "LEN-1", "type": "ArrayLength",
                               "column": "tokens",
                               "params": {"min": 1}}]}, f)

    # 1. BAD batch staged -> audit fails -> branch dropped, main intact
    t.branch("audit")
    t.append(_rows(spark, [("bad", [], 0, "web")]), branch="audit")
    rc = main(["--input", loc, "--input-format", "pyiceberg",
               "--audit-branch", "audit", "--drop-on-fail",
               "--publish-on-pass", "--no-resume",
               "--rules", rules, "--output", str(tmp_path / "o1")])
    assert rc == 1
    assert t.read().count() == 1
    assert "audit" not in t._load_meta()["refs"]

    # 2. GOOD batch staged -> audit passes -> published to main
    t.branch("audit")
    t.append(_rows(spark, [("d2", [3], 1, "book")]), branch="audit")
    rc = main(["--input", loc, "--input-format", "pyiceberg",
               "--audit-branch", "audit", "--drop-on-fail",
               "--publish-on-pass", "--no-resume",
               "--rules", rules, "--output", str(tmp_path / "o2")])
    assert rc == 0
    assert t.read().count() == 2
    meta = t._load_meta()
    assert meta["refs"]["audit"]["snapshot-id"] == \
        meta["current-snapshot-id"]

    # guard: audit-branch without pyiceberg input
    rc = main(["--input", str(tmp_path), "--audit-branch", "x",
               "--output", str(tmp_path / "o3")])
    assert rc == 2


# --------------------------------------------- multi-field partition specs --

MF_SCHEMA = T.StructType([T.StructField("doc_id", T.StringType()),
                          T.StructField("n", T.IntegerType()),
                          T.StructField("source", T.StringType()),
                          T.StructField("ts", T.TimestampType())])


def _mf_rows(spark, rs):
    return spark.createDataFrame(rs, MF_SCHEMA)


def _mf_ts(d, h=0):
    import datetime
    return datetime.datetime(2024, 1, d, h)


def test_multi_field_spec_prunes_each_dimension(spark, tmp_path):
    """The canonical 100-TB layout — identity + day transform in ONE
    spec: source=web/ts_day=19723/; a filter on either column (or both)
    prunes at the manifest level."""
    t = PyIcebergTable.create(spark, str(tmp_path / "mf"), MF_SCHEMA,
                              partition_by=["source", ("ts", "day")])
    t.append(_mf_rows(spark, [
        ("a", 1, "web", _mf_ts(1)), ("b", 2, "web", _mf_ts(2)),
        ("c", 3, "book", _mf_ts(1)), ("d", 4, "book", _mf_ts(2))]))
    full = t.read()
    assert full.count() == 4
    assert full.columns == ["doc_id", "n", "source", "ts"]
    n_all = len(full.inputFiles())
    web = t.read(partition_filter={"source": "web"})
    assert web.count() == 2 and len(web.inputFiles()) < n_all
    day1 = t.read(partition_filter={"ts": (_mf_ts(1), _mf_ts(1, 23))})
    assert day1.count() == 2 and len(day1.inputFiles()) < n_all
    both = t.read(partition_filter={"source": "web",
                                    "ts": (_mf_ts(2), None)})
    assert [(r["doc_id"], r["n"]) for r in both.collect()] == [("b", 2)]
    assert len(both.inputFiles()) == 1


def test_multi_field_spec_cow_mor_and_partitions_view(spark, tmp_path):
    t = PyIcebergTable.create(spark, str(tmp_path / "mfl"), MF_SCHEMA,
                              partition_by=["source", ("ts", "day")])
    t.append(_mf_rows(spark, [
        ("a", 1, "web", _mf_ts(1)), ("b", 2, "web", _mf_ts(2)),
        ("c", 3, "book", _mf_ts(1))]))
    t.delete_rows("n = 1")                     # COW keeps the nested layout
    t.delete_rows("n = 3", mode="mor")         # MOR anti-join on top
    assert sorted(r["doc_id"] for r in t.read().collect()) == ["b"]
    parts = {r["partition"] for r in t.partitions().collect()}
    assert any("ts_day" in p and "source" in p for p in parts)
    # the layout survives a compaction
    t.compact(target_files=2)
    assert sorted(r["doc_id"] for r in t.read().collect()) == ["b"]
    files = t.read().inputFiles()
    assert all("source=" in f and "ts_day=" in f for f in files)


def test_partition_evolution_to_multi_field(spark, tmp_path):
    """Evolving source-only → (source, day) is metadata-only; each
    manifest prunes under the spec that shaped it."""
    t = PyIcebergTable.create(spark, str(tmp_path / "mfe"), MF_SCHEMA,
                              partition_by="source")
    t.append(_mf_rows(spark, [("x", 9, "web", _mf_ts(3))]))
    t.update_partition_spec(["source", ("ts", "day")])
    t.append(_mf_rows(spark, [("y", 8, "web", _mf_ts(4)),
                              ("z", 7, "book", _mf_ts(4))]))
    assert sorted(r["doc_id"] for r in t.read().collect()) == \
        ["x", "y", "z"]
    # source filter prunes under BOTH specs; ts filter only the new one
    web = t.read(partition_filter={"source": "web"})
    assert sorted(r["doc_id"] for r in web.collect()) == ["x", "y"]
    day4 = t.read(partition_filter={"ts": (_mf_ts(4), None)})
    # old-spec file has no ts_day dir -> conservatively kept
    assert sorted(r["doc_id"] for r in day4.collect()) == ["x", "y", "z"]


def test_partition_items_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="duplicate partition source"):
        PyIcebergTable.create(spark, str(tmp_path / "bad"), MF_SCHEMA,
                              partition_by=["source", ("source", "bucket[4]")])
    with pytest.raises(ValueError, match="bad partition_by item"):
        PyIcebergTable.create(spark, str(tmp_path / "bad2"), MF_SCHEMA,
                              partition_by=[42])


def test_metadata_views_history_refs_manifests_entries(spark, tmp_path):
    """history / refs / manifests / entries metadata views: the audit
    quartet. history records every made-current event (rollback rows
    flagged non-ancestor), refs lists main + tags + branches, manifests
    mirrors the manifest list, entries surfaces DELETED rows files()
    hides — with inherited sequence numbers."""
    t = PyIcebergTable.create(spark, str(tmp_path / "mv"), TOKENS_SCHEMA)
    s1 = t.append(_rows(spark, [("a", [1], 1, "web")]).coalesce(1))
    s2 = t.append(_rows(spark, [("b", [2], 1, "web")]).coalesce(1))
    t.tag("rel")
    t.branch("staged")
    s3 = t.append(_rows(spark, [("c", [3], 1, "web")]).coalesce(1))
    t.rollback_to(s2)

    h = t.history().orderBy("made_current_at", "snapshot_id").collect()
    # s1, s2, s3 made current in order, then s2 again via rollback
    assert [r["snapshot_id"] for r in h] == [s1, s2, s3, s2]
    anc = {r["snapshot_id"]: r["is_current_ancestor"] for r in h}
    assert anc[s1] and anc[s2] and not anc[s3]    # s3 abandoned
    assert h[1]["parent_id"] == s1

    refs = {r["name"]: (r["type"], r["snapshot_id"])
            for r in t.refs().collect()}
    assert refs["main"] == ("branch", s2)
    assert refs["rel"] == ("tag", s2)
    assert refs["staged"] == ("branch", s2)

    m = t.manifests().collect()                   # head = s2: two appends
    assert len(m) == 2 and all(r["content"] == 0 for r in m)
    assert sorted(r["added_snapshot_id"] for r in m) == sorted([s1, s2])
    assert all(r["added_files_count"] == 1 and r["added_rows_count"] == 1
               for r in m)
    assert all(r["length"] > 0 for r in m)

    # entries at s3 include both live adds; after a COW delete the
    # rewritten file shows as status=2 DELETED — which files() hides
    t2 = PyIcebergTable.create(spark, str(tmp_path / "mv2"), TOKENS_SCHEMA)
    t2.append(_rows(spark, [("a", [1], 1, "web"),
                            ("b", [2], 1, "book")]))
    t2.delete_rows("doc_id = 'a'")
    e = t2.entries().collect()
    statuses = sorted(r["status"] for r in e)
    assert 2 in statuses                           # DELETED entry visible
    live = [r for r in e if r["status"] != 2]
    assert sum(r["record_count"] for r in live) == 1
    assert all(r["sequence_number"] is not None for r in e)  # inherited
    assert {r["file_format"] for r in e} == {"PARQUET"}
    assert t2.files().count() == len(live)


# --------------------------------------------- review-fix regression pins --

def test_add_column_rejects_historical_names(spark, table):
    """A name a renamed field historically bore cannot be re-added: old
    files physically carry it, so the name-history coalesce would pull
    the NEW field's request column out of them — silent wrong data."""
    table.rename_column("doc_id", "key")
    table.append(_rows(spark, [("d4", [7], 1, "web")])
                 .withColumnRenamed("doc_id", "key"))
    with pytest.raises(ValueError, match="ambiguous"):
        table.add_column("doc_id", T.StringType())
    # a genuinely fresh name still works
    table.add_column("notes", T.StringType())
    got = {r["key"]: r["source"] for r in table.read().collect()}
    assert got["d1"] == "web" and got["d4"] == "web"


def test_expire_keeps_staged_branch_chain_publishable(spark, tmp_path):
    """expire_snapshots while a MULTI-commit branch is staged must keep
    the branch's intermediate snapshots: fast_forward needs the ancestor
    chain to prove main is behind the branch."""
    t = PyIcebergTable.create(spark, str(tmp_path / "exp"), TOKENS_SCHEMA)
    t.append(_rows(spark, [("d1", [1], 1, "web")]))          # main S1
    t.branch("stage")
    t.append(_rows(spark, [("d2", [2], 1, "web")]), branch="stage")  # S2
    t.append(_rows(spark, [("d3", [3], 1, "web")]), branch="stage")  # S3
    t.expire_snapshots()
    t.fast_forward("main", "stage")                           # must not raise
    assert {r["doc_id"] for r in t.read().collect()} == {"d1", "d2", "d3"}


def test_metadata_views_on_empty_main_with_staged_branch(spark, tmp_path):
    """First-ever batch staged off-main (the WAP bootstrap flow): every
    metadata view must report an EMPTY table, not crash the monitor."""
    t = PyIcebergTable.create(spark, str(tmp_path / "wapview"),
                              TOKENS_SCHEMA)
    t.branch("stage")
    t.append(_rows(spark, [("d1", [1], 1, "web")]), branch="stage")
    assert t.read().count() == 0
    assert t.files().count() == 0
    assert t.delete_files().count() == 0
    assert t.partitions().count() == 0
    assert t.manifests().count() == 0
    assert t.entries().count() == 0
    # explicit missing ids still raise
    with pytest.raises(ValueError):
        t.manifests(snapshot_id=12345)
    # the staged branch itself is visible through read(ref=)
    assert t.read(ref="stage").count() == 1


def test_partition_spec_derived_name_collisions_raise(spark, tmp_path):
    sch = T.StructType([T.StructField("ts", T.TimestampType(), True),
                        T.StructField("ts_day", T.LongType(), True),
                        T.StructField("v", T.LongType(), True)])
    with pytest.raises(ValueError, match="collides with schema column"):
        PyIcebergTable.create(spark, str(tmp_path / "pc1"), sch,
                              partition_by=("ts", "day"))
    sch2 = T.StructType([T.StructField("ts", T.TimestampType(), True),
                         T.StructField("v", T.LongType(), True)])
    with pytest.raises(ValueError, match="duplicate"):
        PyIcebergTable.create(
            spark, str(tmp_path / "pc2"), sch2,
            partition_by=[("ts", "day"), ("ts", "day")])


def test_run_validation_cli_rejects_synth_with_audit_branch(spark,
                                                            tmp_path):
    """--synth replaces the input entirely, so gating a branch on it
    would judge synthetic data and then crash on the unbound table —
    must be a clean usage error instead."""
    from jobs.run_validation import main
    rc = main(["--synth", "100", "--input-format", "pyiceberg",
               "--audit-branch", "x", "--output",
               str(tmp_path / "out")])
    assert rc == 2


# --------------------------------------------- round-3 review regressions ---

def test_decimal_column_appends_and_stats_filter_skips(spark, tmp_path):
    """A DecimalType column must append cleanly (the JSON skip-index
    sidecar cannot serialize Decimal, so decimals are excluded from the
    bounds) and stats_filter on OTHER columns still prunes."""
    from decimal import Decimal
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("amount", T.DecimalType(10, 2))])
    t = PyIcebergTable.create(spark, str(tmp_path / "dec"), sch)
    df = spark.createDataFrame(
        [(i, Decimal(f"{i}.25")) for i in range(10)], sch)
    t.append(df.repartition(2))
    assert t.read().count() == 10
    # decimal filters never prune (no bounds recorded) but must not crash
    assert t.read(stats_filter={"k": (0, 3)}).count() >= 4
    got = {r["amount"] for r in t.read().collect()}
    assert Decimal("7.25") in got


def test_identity_string_partition_numeric_values(spark, tmp_path):
    """Zero-padded numeric-LOOKING string partition values must keep
    their declared string type in the skip index: a later string-range
    stats_filter on the partition source would otherwise hit an
    int-vs-str comparison."""
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("code", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "pad"), sch,
                              partition_by="code")
    t.append(spark.createDataFrame(
        [(1, "001"), (2, "050"), (3, "999")], sch))
    out = t.read(stats_filter={"code": ("001", "099")})
    assert {r["code"] for r in out.collect()} == {"001", "050"}
    # and the values came back as the declared strings, not ints
    assert {r["code"] for r in t.read().collect()} == {"001", "050", "999"}


def test_drop_column_guarded_by_live_equality_deletes(spark, tmp_path):
    """Dropping a column that live equality-delete files key on must
    raise (the table would be unreadable and unrecoverable otherwise);
    after compact() materializes the deletes, the drop succeeds."""
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "dropeq"), sch)
    t.append(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], sch))
    t.delete_rows_eq(spark.createDataFrame([(2,)], "k long"))
    with pytest.raises(ValueError, match="equality-delete"):
        t.drop_column("k")
    t.compact()
    t.drop_column("k")
    assert t.read().columns == ["v"]
    assert {r["v"] for r in t.read().collect()} == {"a", "c"}


def test_pinned_overwrite_surfaces_concurrent_commit(spark, tmp_path):
    """A snapshot-scoped rewrite (compact's commit path) planned against
    version V must raise CommitConflictError when another commit lands
    before it publishes — not silently drop the concurrent rows."""
    from fhir_data_validation_spark.sources.iceberg_py import (
        CommitConflictError)
    sch = T.StructType([T.StructField("k", T.LongType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "pin"), sch)
    t.append(spark.createDataFrame([(1,), (2,)], sch))
    meta, ver = t._load_meta_versioned()
    planned = t.read(meta["current-snapshot-id"])
    t.append(spark.createDataFrame([(3,)], sch))   # concurrent writer
    with pytest.raises(CommitConflictError):
        t._commit(planned, operation="overwrite", pinned=(meta, ver))
    # nothing was lost
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3}


def test_orphan_sweep_keeps_escaped_partition_values(spark, tmp_path):
    """Hive-escaped partition directory values (':' -> '%3A') must
    compare equal between the manifest paths and the directory listing —
    a one-sided decode would delete live data as 'orphans'."""
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("ts_label", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "esc"), sch,
                              partition_by="ts_label")
    t.append(spark.createDataFrame(
        [(1, "2024-01-01 10:00"), (2, "2024-01-01 11:30")], sch))
    swept = t.remove_orphan_files(older_than_ms=0)
    assert swept["orphan_files"] == 0
    assert {r["ts_label"] for r in t.read().collect()} == {
        "2024-01-01 10:00", "2024-01-01 11:30"}


def test_eq_delete_time_travel_after_rename(spark, tmp_path):
    """Time travel to a snapshot carrying live equality deletes must
    resolve the delete keys with THAT snapshot's schema, even after the
    column was renamed post-materialization."""
    sch = T.StructType([T.StructField("a", T.LongType()),
                        T.StructField("v", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "ttr"), sch)
    t.append(spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], sch))
    r = t.delete_rows_eq(spark.createDataFrame([(2,)], "a long"))
    sid_del = r["snapshot_id"]
    t.compact()                      # materialize -> no live deletes now
    t.rename_column("a", "b")        # passes: current snapshot is clean
    # current read: renamed column, delete applied
    assert {x["b"] for x in t.read().collect()} == {1, 3}
    # time travel: the delete-era snapshot reads with ITS schema ('a')
    # and still applies the equality delete
    old = t.read(snapshot_id=sid_del)
    assert old.columns == ["a", "v"]
    assert {x["a"] for x in old.collect()} == {1, 3}


def test_range_filter_survives_partition_evolution_from_bucket(spark,
                                                               tmp_path):
    """Evolving away from a bucket spec must not permanently disable
    range partition_filter: the retired bucket spec gets no matcher
    (files conservatively kept) while the new order-preserving spec
    prunes; an all-bucket table still raises."""
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "evo"), sch,
                              partition_by=("k", "bucket[4]"))
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(8)], sch))
    with pytest.raises(ValueError, match="bucket"):
        t.read(partition_filter={"k": (0, 3)})
    t.update_partition_spec([("k", "truncate[2]")])
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(8, 16)], sch))
    out = t.read(partition_filter={"k": (0, 3)}).where("k <= 3")
    assert {r["k"] for r in out.collect()} == {0, 1, 2, 3}
    # old-spec files are conservatively kept (not silently dropped)
    all_k = {r["k"]
             for r in t.read(partition_filter={"k": (0, 20)}).collect()}
    assert all_k == set(range(16))


def test_partition_value_not_shadowed_by_location_segment(spark,
                                                          tmp_path):
    """A '<col>=' segment inside the table LOCATION itself must not
    shadow the real partition directory when manifests record partition
    values."""
    base = tmp_path / "source=eu" / "events"
    base.parent.mkdir(parents=True, exist_ok=True)
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("source", T.StringType())])
    t = PyIcebergTable.create(spark, str(base), sch, partition_by="source")
    t.append(spark.createDataFrame([(1, "us"), (2, "web")], sch))
    only_us = t.read(partition_filter={"source": "us"})
    assert [r["k"] for r in only_us.collect()] == [1]
    assert {r["source"] for r in t.read().collect()} == {"us", "web"}


def test_avro_none_for_required_field_raises():
    """str(None) must never serialize the text 'None' into durable
    metadata — a missing required field raises at the encoder."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "path", "type": "string"},
        {"name": "opt", "type": ["null", "string"], "default": None}]}
    with pytest.raises(ValueError, match="non-optional"):
        avro_io.write_container(schema, [{"path": None, "opt": None}])
    # unions still accept None
    _, _, recs = avro_io.read_container(avro_io.write_container(
        schema, [{"path": "p", "opt": None}]))
    assert recs == [{"path": "p", "opt": None}]


def test_avro_named_type_defined_in_untaken_union_branch():
    """A named record defined inside a union branch resolves by name
    even when the defining occurrence is never taken (eager schema-walk
    registration, not lazy value-traversal registration)."""
    schema = {"type": "record", "name": "outer", "fields": [
        {"name": "a", "type": ["null", {
            "type": "record", "name": "R",
            "fields": [{"name": "x", "type": "long"}]}], "default": None},
        {"name": "b", "type": ["null", "R"], "default": None}]}
    rec = {"a": None, "b": {"x": 7}}
    _, _, out = avro_io.read_container(
        avro_io.write_container(schema, [rec]))
    assert out == [rec]


def test_schema_diff_by_field_id(spark, tmp_path):
    """schema_diff pairs fields by FIELD-ID: renames report as renamed
    (not drop+add), widenings as retyped, and add/drop as themselves —
    zero data IO."""
    sch = T.StructType([T.StructField("a", T.IntegerType()),
                        T.StructField("v", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "sd"), sch)
    s1 = t.append(spark.createDataFrame([(1, "x")], sch))
    t.rename_column("a", "b")
    t.widen_column("b", T.LongType())
    t.add_column("c", T.StringType())
    t.drop_column("v")
    s2 = t.append(spark.createDataFrame(
        [(2, None, "y")], "b long, v string, c string").select("b", "c"))
    got = {(r["change"], r["from_name"], r["to_name"])
           for r in t.schema_diff(s1, s2).collect()}
    assert ("renamed", "a", "b") in got
    assert ("retyped", "a", "b") in got
    assert ("added", None, "c") in got
    assert ("dropped", "v", None) in got
    # identical snapshots diff empty
    assert t.schema_diff(s2, s2).count() == 0
    # reversed direction flips add/drop
    rev = {r["change"] for r in t.schema_diff(s2, s1).collect()}
    assert "added" in rev and "dropped" in rev


# ------------------------------------ manifest stats from parquet footers ---

def _local_path(uri, decode=False):
    """Scheme-less path of a listing path (``file:/x``) or of an
    ``input_file_name()`` URI (``file:///x``, percent-encoded once more
    than the listing — ``decode=True`` undoes that)."""
    from urllib.parse import unquote, urlparse
    return urlparse(unquote(uri) if decode else uri).path


def _spark_file_stats(spark, files_dir, pfs, schema):
    """{path: (record count, bounds)} from ONE Spark aggregation over the
    staged files keyed by ``input_file_name()`` — how commits computed
    per-file stats before they read parquet footers, kept here as the
    oracle. Zero-row files have no group and read as (0, {})."""
    import glob
    if not glob.glob(f"{files_dir}/**/*.parquet", recursive=True):
        return {}
    reader = spark.read.schema(schema)
    if pfs:
        reader = reader.option("basePath", files_dir)
    cols = [f.name for f in schema.fields
            if isinstance(f.dataType, (T.NumericType, T.StringType))
            and not isinstance(f.dataType, T.DecimalType)]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    rows = (reader.parquet(files_dir)
            .groupBy(F.input_file_name().alias("f")).agg(*aggs).collect())
    return {_local_path(r["f"], decode=True):
            (r["n"], {c: [r[f"_lo_{c}"], r[f"_hi_{c}"]] for c in cols
                      if r[f"_lo_{c}"] is not None})
            for r in rows}


def _same(a, b):
    """Exact equality of stats values: types must match ('001' is not 1),
    dict keys must come in the same order (the skip-index JSON is
    order-sensitive), NaN equals NaN. The sign of a zero bound is not
    compared: Spark's min/max keeps whichever zero it meets first while
    the footer records -0.0 / +0.0, and every bound comparison treats the
    two as equal."""
    if isinstance(a, dict):
        return (isinstance(b, dict) and list(a) == list(b)
                and all(_same(a[k], b[k]) for k in a))
    if isinstance(a, (list, tuple)):
        return (type(a) is type(b) and len(a) == len(b)
                and all(map(_same, a, b)))
    return type(a) is type(b) and (a == b or (a != a and b != b))


@pytest.fixture()
def stats_oracle(spark, monkeypatch):
    """Checks every commit's new manifest entries against the Spark
    aggregation over the same staged files, before promotion moves them.
    Returns copies of the checked entry lists (staged paths, bounds not
    yet popped by the commit), one per commit."""
    import copy
    import os
    real = PyIcebergTable._manifest_entries
    checked = []

    def manifest_entries(self, files_dir, snapshot_id, seq, pfs, schema):
        entries = real(self, files_dir, snapshot_id, seq, pfs, schema)
        want = _spark_file_stats(spark, files_dir, pfs, schema)
        got = [_local_path(e["data_file"]["file_path"]) for e in entries]
        staged = sorted(os.path.join(d, f)
                        for d, _, fs in os.walk(files_dir)
                        for f in fs if f.endswith(".parquet"))
        assert sorted(got) == staged
        for p, e in zip(got, entries):
            n, bounds = want.get(p, (0, {}))
            assert e["data_file"]["record_count"] == n, p
            assert e["data_file"]["file_size_in_bytes"] == \
                os.path.getsize(p), p
            assert _same(e["_bounds"], bounds), (p, e["_bounds"], bounds)
        checked.append(copy.deepcopy(entries))
        return entries

    monkeypatch.setattr(PyIcebergTable, "_manifest_entries",
                        manifest_entries)
    return checked


def test_footer_stats_add_files_of_synth_corpus(spark, tmp_path,
                                                stats_oracle):
    """add_files of a seeded corrupted token corpus (strings with NULLs,
    an int column, an array column without bounds): counts, sizes and
    skip-index bounds equal the Spark aggregation's."""
    from fhir_data_validation_spark.sources.synth import dirty_token_table
    ext = str(tmp_path / "corpus")
    df = dirty_token_table(spark, 3000, seed=7).drop("_row_id")
    df.repartition(4).write.parquet(ext)
    t = PyIcebergTable.create(spark, str(tmp_path / "c"),
                              spark.read.parquet(ext).schema)
    t.add_files(ext)
    [entries] = stats_oracle
    assert len(entries) == 4
    assert sum(e["data_file"]["record_count"] for e in entries) == 3000
    assert all(set(e["_bounds"]) == {"doc_id", "n_tok", "source"}
               for e in entries)


def test_footer_stats_typed_columns_nan_negative_zero_all_null(
        spark, tmp_path, stats_oracle):
    """Appends of long/int/short/byte/float/double/string columns, a
    double column holding NaN and -0.0 (Spark and parquet-mr both order
    NaN above every number) and an all-NULL column (no bound)."""
    nan = float("nan")
    sch = T.StructType([T.StructField(n, t) for n, t in [
        ("l", T.LongType()), ("i", T.IntegerType()),
        ("s", T.ShortType()), ("b", T.ByteType()),
        ("f", T.FloatType()), ("d", T.DoubleType()),
        ("z", T.DoubleType()), ("str", T.StringType()),
        ("nul", T.LongType())]])
    t = PyIcebergTable.create(spark, str(tmp_path / "typed"), sch)
    t.append(spark.createDataFrame(
        [(1, -2, 3, -4, 0.1, 1.0, -0.0, "b", None),
         (2**40, 7, -3, 4, -0.5, nan, 0.0, "é", None),
         (None, None, None, None, None, 2.0, 0.0, None, None)], sch)
        .coalesce(1))
    t.append(spark.createDataFrame(
        [(i, i, i, i % 100, i / 3, nan if i % 7 == 0 else -i / 7,
          0.0, f"k{i:03d}", None) for i in range(50)], sch).repartition(3))
    assert [len(e) for e in stats_oracle] == [1, 3]
    [first] = stats_oracle[0]
    assert "nul" not in first["_bounds"]
    lo, hi = first["_bounds"]["d"]
    assert lo == 1.0 and hi != hi                      # max NaN
    assert t.read(stats_filter={"l": (2**40, None)}).count() == 3


def test_footer_stats_fold_several_row_groups(spark, tmp_path,
                                              stats_oracle):
    """A file with several row groups: each column's bound is the fold of
    its chunks' min/max, NaN ordered last as Spark orders it."""
    import glob

    import pyarrow.parquet as pq
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("d", T.DoubleType()),
                        T.StructField("v", T.StringType())])
    rows = [((i * 7919) % 5000 - 2500,
             float("nan") if i == 2500 else (i % 97) - 48.5,
             f"v{(i * 31) % 5000:05d}") for i in range(5000)]
    t = PyIcebergTable.create(spark, str(tmp_path / "rg"), sch)
    spark.conf.set("parquet.block.size", "4096")
    try:
        t.append(spark.createDataFrame(rows, sch).coalesce(1))
    finally:
        spark.conf.unset("parquet.block.size")
    [[entry]] = stats_oracle
    [path] = glob.glob(str(tmp_path / "rg" / "data" / "*.parquet"))
    assert pq.read_metadata(path).num_row_groups > 2
    assert entry["_bounds"]["k"] == [-2500, 2499]
    assert entry["_bounds"]["v"] == ["v00000", "v04999"]
    assert entry["_bounds"]["d"][1] != entry["_bounds"]["d"][1]


def test_footer_stats_partitioned_tables(spark, tmp_path, stats_oracle):
    """Identity partitions take their bound from the directory value —
    zero-padded strings stay strings, a NULL partition records none —
    and transform partitions keep the source column's footer bounds
    beside the derived column's directory value; a COW delete's rewrite
    goes through the same path."""
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("code", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "pad"), sch,
                              partition_by="code")
    t.append(spark.createDataFrame(
        [(1, "001"), (2, "050"), (3, "999"), (4, None), (5, "050")], sch)
        .coalesce(1))
    assert {e["_bounds"].get("code", [None])[0]
            for e in stats_oracle[0]} == {"001", "050", "999", None}
    assert {r["code"] for r in t.read(
        stats_filter={"code": ("001", "099")}).collect()} <= \
        {"001", "050", None}
    t.delete_rows("k = 2")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 4, 5]

    sch2 = T.StructType([T.StructField("doc_id", T.StringType()),
                         T.StructField("v", T.LongType())])
    t2 = PyIcebergTable.create(
        spark, str(tmp_path / "bt"), sch2,
        partition_by=[("doc_id", "bucket[4]"), ("v", "truncate[10]")])
    t2.append(spark.createDataFrame(
        [(f"d{i}", i) for i in range(40)] + [(None, None)], sch2))
    bucketed = stats_oracle[-1]
    assert len(bucketed) > 4
    assert all("doc_id" in e["_bounds"] and "v_trunc" in e["_bounds"]
               for e in bucketed if e["data_file"]["partition"]["v_trunc"]
               is not None)
    assert [len(e) for e in stats_oracle[:2]] == [4, 1]  # append, delete


def test_footer_stats_delete_files_and_empty_commit(spark, tmp_path,
                                                    stats_oracle):
    """Position-delete and equality-delete files get their counts and
    bounds from their footers too; an empty staging dir commits an empty
    snapshot."""
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "del"), sch)
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], sch).repartition(2))
    assert t.delete_rows("k % 10 = 3", mode="mor")["rows_deleted"] == 3
    t.delete_rows_eq(spark.createDataFrame([(5,), (6,), (99,)], "k long"))
    pos, eq = stats_oracle[1], stats_oracle[2]
    assert sum(e["data_file"]["record_count"] for e in pos) == 3
    assert all(set(e["_bounds"]) == {"file_path", "pos"} for e in pos
               if e["data_file"]["record_count"])
    assert sum(e["data_file"]["record_count"] for e in eq) == 3
    assert t.read().count() == 25
    # an empty unpartitioned write leaves one zero-row file; a listing
    # with no file at all commits a snapshot with no entries
    t.append(spark.createDataFrame([], sch))
    assert [e["data_file"]["record_count"] for e in stats_oracle[-1]] == [0]
    (tmp_path / "none").mkdir()
    before = len(t.snapshots().collect())
    t.add_files(str(tmp_path / "none"))
    assert stats_oracle[-1] == []
    assert len(t.snapshots().collect()) == before + 1
    assert t.read().count() == 25


def test_footer_stats_oversized_string_has_no_bound(spark, tmp_path):
    """parquet-mr writes no min/max for a chunk whose values exceed 4 KB:
    the footer path then records no bound for that column of that file
    (the one place it differs from a Spark aggregation), and a
    stats_filter on it keeps the file, so every row still comes back."""
    big = "x" * 5000
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("s", T.StringType())])
    t = PyIcebergTable.create(spark, str(tmp_path / "big"), sch)
    t.append(spark.createDataFrame([(1, big), (2, "a"), (3, "b")], sch)
             .coalesce(1))
    data_dir = tmp_path / "big" / "data"
    [(n, want)] = _spark_file_stats(spark, str(data_dir), None,
                                    sch).values()
    assert n == 3 and want["s"] == ["a", big]
    [bounds] = json.loads(
        (tmp_path / "big" / "metadata" /
         f"skipidx-{t.current_snapshot_id()}.json").read_text()).values()
    assert bounds == {"k": [1, 3]}
    assert t.read(stats_filter={"s": (big, big)}).count() == 3
    assert t.read(stats_filter={"s": ("zzz", None)}).count() == 3
    # one oversized chunk among several row groups: the other chunks'
    # min/max must not become the file's bound, or a filter above them
    # would skip the file that holds the oversized value
    import glob

    import pyarrow.parquet as pq
    rows = [(i, "z" * 5000 if i == 1500 else f"v{i:05d}")
            for i in range(3000)]
    spark.conf.set("parquet.block.size", "4096")
    try:
        sid = t.append(spark.createDataFrame(rows, sch).coalesce(1))
    finally:
        spark.conf.unset("parquet.block.size")
    [bounds] = json.loads(
        (tmp_path / "big" / "metadata" /
         f"skipidx-{sid}.json").read_text()).values()
    assert bounds == {"k": [0, 2999]}
    [path] = [p for p in glob.glob(str(data_dir / "*.parquet"))
              if pq.read_metadata(p).num_rows == 3000]
    md = pq.read_metadata(path)
    has = [md.row_group(g).column(1).statistics.has_min_max
           for g in range(md.num_row_groups)]
    assert True in has and False in has
    assert t.read(stats_filter={"s": ("z", None)}) \
        .where(F.col("s") >= "z").count() == 1


def test_footer_stats_nan_from_arrow_writer(spark, tmp_path, stats_oracle):
    """An Arrow-written file leaves NaN out of a double chunk's max, where
    Spark orders NaN above every number: add_files records max NaN for
    it, as the Spark aggregation does, so a lower-bound stats_filter
    keeps the file and its NaN row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    ext = tmp_path / "arrow"
    ext.mkdir()
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                             "d": [1.0, float("nan"), 2.0]}),
                   str(ext / "part-0.parquet"))
    assert pq.read_metadata(str(ext / "part-0.parquet")) \
        .row_group(0).column(1).statistics.max == 2.0
    t = PyIcebergTable.create(spark, str(tmp_path / "nan"),
                              spark.read.parquet(str(ext)).schema)
    t.add_files(str(ext))
    [[entry]] = stats_oracle
    assert entry["_bounds"]["k"] == [1, 3]
    kept = t.read(stats_filter={"d": (3.0, None)})
    assert kept.count() == 3
    assert kept.where(F.isnan("d")).count() == 1


def test_commits_run_no_spark_stats_job(spark, tmp_path):
    """Per-file stats come from footers: add_files runs no Spark job and
    an append runs exactly one, the write itself."""
    import uuid
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(fn):
        group = f"commit-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count commit jobs")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group))
    ext = str(tmp_path / "ext")
    _rows(spark, [("e1", [1], 1, "web"), ("e2", [2, 3], 2, "book")]) \
        .repartition(2).write.parquet(ext)
    t = PyIcebergTable.create(spark, str(tmp_path / "jobs"), TOKENS_SCHEMA)
    assert jobs(lambda: t.add_files(ext)) == 0
    batch = _rows(spark, [("a1", [1, 2], 2, "web")])
    assert jobs(lambda: t.append(batch)) == 1
    assert t.read().count() == 3
