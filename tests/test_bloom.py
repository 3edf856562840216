"""Split-block Bloom key index (bloom.py) + the Reference bloom lane."""

import pytest
from pyspark.sql import functions as F

from fhir_data_validation_spark import ValidationEngine, RuleSet
from fhir_data_validation_spark.bloom import KeyIndex


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "k string")


def test_no_false_negatives_and_measured_fpp(spark):
    members = [f"member-{i}" for i in range(5000)]
    outsiders = [f"outsider-{i}" for i in range(5000)]
    idx = KeyIndex.build(_keys(spark, members), "k")
    flags = {r["k"]: r["might"] for r in
             idx.check(_keys(spark, members + outsiders), "k", flag="might")
                .collect()}
    # hard guarantee: every inserted key probes True
    assert all(flags[m] for m in members)
    # false positives bounded: analytic ~6e-4, blocking penalty small;
    # 5000 probes at 16 bits/key should see well under 1%
    fp = sum(1 for o in outsiders if flags[o])
    assert fp / len(outsiders) < 0.01
    assert idx.fpp_estimate() < 1e-3


def test_null_keys_flag_null_and_are_never_inserted(spark):
    df = spark.createDataFrame([("a",), (None,)], "k string")
    idx = KeyIndex.build(df, "k")
    rows = {r["k"]: r["might"]
            for r in idx.check(df, "k", flag="might").collect()}
    assert rows["a"] is True and rows[None] is None
    assert idx.absent(df, "k").count() == 0  # null is not "absent"


def test_add_delta_equals_rebuild_over_union(spark):
    a = [f"a-{i}" for i in range(800)]
    b = [f"b-{i}" for i in range(300)]
    # same n_blocks: pin via n_items so the delta merge hashes identically
    idx = KeyIndex.build(_keys(spark, a), "k", n_items=1100)
    grown = idx.add(_keys(spark, b), "k")
    rebuilt = KeyIndex.build(_keys(spark, a + b), "k", n_items=1100)
    g = {r["block"]: (r["w0"], r["w1"], r["w2"], r["w3"])
         for r in grown.blocks.collect()}
    r = {r["block"]: (r["w0"], r["w1"], r["w2"], r["w3"])
         for r in rebuilt.blocks.collect()}
    assert g == r  # bit_or merge is exactly a rebuild
    assert grown.n_items == 1100 + 300
    assert grown.n_blocks == rebuilt.n_blocks


def test_chained_add_keeps_only_last_merge_cached(spark):
    """Three chained add() calls leave only the last merge in the cache;
    the result still equals a rebuild over the union."""
    from pyspark import StorageLevel
    keys = [f"k-{i}" for i in range(900)]
    idx = KeyIndex.build(_keys(spark, keys[:300]), "k", n_items=900)
    chain = [idx]
    for lo in (300, 500, 700):
        chain.append(chain[-1].add(_keys(spark, keys[lo:lo + 200]), "k"))
    cached = [c._persisted.storageLevel != StorageLevel.NONE
              for c in chain[1:]]
    assert cached == [False, False, True]
    rebuilt = KeyIndex.build(_keys(spark, keys), "k", n_items=900)
    assert (sorted(chain[-1].blocks.collect())
            == sorted(rebuilt.blocks.collect()))
    assert chain[-1].n_items == 900 + 600
    chain[-1].unpersist()


def test_save_load_round_trip(spark, tmp_path):
    members = [f"m-{i}" for i in range(500)]
    idx = KeyIndex.build(_keys(spark, members), "k")
    idx.save(str(tmp_path / "kidx"))
    back = KeyIndex.load(spark, str(tmp_path / "kidx"))
    assert (back.n_blocks, back.k, back.key_type) == (
        idx.n_blocks, idx.k, idx.key_type)
    probe = _keys(spark, members + ["ghost-1", "ghost-2"])
    before = sorted(r["k"] for r in idx.absent(probe, "k").collect())
    after = sorted(r["k"] for r in back.absent(probe, "k").collect())
    assert before == after and "ghost-1" in after


def test_type_mismatch_refused(spark):
    idx = KeyIndex.build(spark.range(100).select(
        F.col("id").cast("bigint").alias("k")), "k")
    probe = spark.range(5).select(F.col("id").cast("double").alias("k"))
    with pytest.raises(TypeError, match="no numeric coercion"):
        idx.check(probe, "k")


def _ref_corpus(spark):
    """1000 docs; refs 0..849 exist in the dim, 850..999 dangle."""
    docs = spark.range(1000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").cast("bigint").alias("ref"),
        F.lit("web").alias("source"))
    dim = spark.range(850).select(F.col("id").cast("bigint").alias("key"))
    return docs, dim


def _run_ref(spark, docs, dim, params):
    rs = RuleSet.parse({"rules": [
        {"id": "REF-B", "type": "Reference", "column": "ref",
         "params": {"dim": "d", "on": "key", **params}}]})
    eng = ValidationEngine(rs, dims={"d": dim})
    return eng.validate(docs)


def test_reference_bloom_prefilter_equals_exact(spark):
    docs, dim = _ref_corpus(spark)
    exact = _run_ref(spark, docs, dim, {})
    bloom = _run_ref(spark, docs, dim, {"bloom": True, "broadcast": False})
    e = sorted(r["doc_id"] for r in exact.violations.collect())
    b = sorted(r["doc_id"] for r in bloom.violations.collect())
    assert b == e and len(e) == 150  # prefilter mode is bit-exact


def test_reference_bloom_approx_subset_and_near_complete(spark):
    docs, dim = _ref_corpus(spark)
    exact = {r["doc_id"] for r in
             _run_ref(spark, docs, dim, {}).violations.collect()}
    approx = {r["doc_id"] for r in
              _run_ref(spark, docs, dim,
                       {"bloom": {"mode": "approx"}}).violations.collect()}
    assert approx <= exact                  # never invents a violation
    assert len(approx) >= 0.97 * len(exact)  # misses only ~fpp


def test_reference_bloom_type_guard_is_config_error(spark):
    from fhir_data_validation_spark.errors import RuleConfigurationError
    docs, dim = _ref_corpus(spark)
    dim_d = dim.select(F.col("key").cast("double").alias("key"))
    with pytest.raises(RuleConfigurationError, match="matching key types"):
        _run_ref(spark, docs, dim_d, {"bloom": True}).violations.count()


def test_bloom_probe_plan_fact_side_unshuffled(spark):
    """The bloom probe itself must be a broadcast join on the int block id
    with NO Exchange on the fact side — the scan-local scale property."""
    docs, dim = _ref_corpus(spark)
    idx = KeyIndex.build(dim, "key")
    plan = idx.check(docs, "ref")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # exactly ONE hash exchange: the bloom-BUILD aggregation inside the
    # broadcast subtree. The fact side itself never shuffles.
    assert plan.count("Exchange hashpartitioning") == 1


def test_fpp_estimate_tracks_actual_load(spark):
    """After add() overfills the fixed bit array, fpp_estimate must
    report the degraded real rate, not the build-time design target."""
    from fhir_data_validation_spark.bloom import KeyIndex
    dim = spark.range(0, 1000).selectExpr("id AS k")
    idx = KeyIndex.build(dim, "k", bits_per_key=16)
    design = idx.fpp_estimate()
    grown = idx.add(spark.range(1000, 20000).selectExpr("id AS k"), "k")
    assert grown.fpp_estimate() > design * 10
    assert 0.0 < grown.fpp_estimate() <= 1.0
