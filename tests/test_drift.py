"""drift_compare: the Catalyst PSI / KS / JSD / chi-square fold against a
numpy reference of the same formulas, and the one-sided-source contract."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from fhir_data_validation_spark import ValidationEngine
from fhir_data_validation_spark.model import RuleSet
from fhir_data_validation_spark.plans import (DRIFT_RESULT_SCHEMA,
                                              drift_compare)
from fhir_data_validation_spark.sources.synth import (stats_baseline,
                                                      token_table)
from fhir_data_validation_spark.stats import grouped_token_counts, histogram

STATS = ("psi", "ks", "ks_crit", "jsd", "chi2")


def _numpy_drift(cur_rows, base_rows, ks_alpha=0.01):
    """Reference statistics of one source: ``*_rows`` are (bucket, cnt)
    pairs, duplicates summed per bucket, buckets in ascending order."""
    buckets = sorted({b for b, _ in cur_rows} | {b for b, _ in base_rows})
    idx = {b: i for i, b in enumerate(buckets)}
    cur, base = np.zeros(len(buckets)), np.zeros(len(buckets))
    for b, n in cur_rows:
        cur[idx[b]] += n
    for b, n in base_rows:
        base[idx[b]] += n
    n_cur, n_base = cur.sum(), base.sum()
    if n_cur == 0 or n_base == 0:
        return dict.fromkeys(STATS)
    eps = 1e-6
    p0, q0 = cur / n_cur, base / n_base
    p, q = np.maximum(p0, eps), np.maximum(q0, eps)
    m = 0.5 * (p0 + q0)
    safe_m = np.where(m > 0, m, 1.0)
    supported = base > 0
    expected = q0[supported] * n_cur
    return {
        "psi": float(np.sum((p - q) * np.log(p / q))),
        "ks": float(np.max(np.abs(np.cumsum(cur) / n_cur
                                  - np.cumsum(base) / n_base))),
        "ks_crit": math.sqrt(-0.5 * math.log(ks_alpha / 2.0))
        * math.sqrt((n_cur + n_base) / (n_cur * n_base)),
        "jsd": float(
            0.5 * np.sum(np.where(p0 > 0, p0 * np.log2(
                np.where(p0 > 0, p0, 1.0) / safe_m), 0.0))
            + 0.5 * np.sum(np.where(q0 > 0, q0 * np.log2(
                np.where(q0 > 0, q0, 1.0) / safe_m), 0.0))),
        "chi2": float(np.sum((cur[supported] - expected) ** 2 / expected)),
    }


def _assert_matches_numpy(current, baseline, ks_alpha=0.01):
    by_src: dict = {}
    for side, frame in (("cur", current), ("base", baseline)):
        for r in frame.collect():
            by_src.setdefault(r["source"], {"cur": [], "base": []})[
                side].append((r["bucket"], r["cnt"]))
    got = {r["source"]: r for r in
           drift_compare(current, baseline, ks_alpha=ks_alpha).collect()}
    assert set(got) == set(by_src)
    for src, sides in by_src.items():
        want = _numpy_drift(sides["cur"], sides["base"], ks_alpha)
        row = got[src]
        assert row["n_current"] == sum(n for _, n in sides["cur"])
        assert row["n_baseline"] == sum(n for _, n in sides["base"])
        for s in STATS:
            assert math.isclose(row[s], want[s], rel_tol=1e-12,
                                abs_tol=1e-15), (src, s, row[s], want[s])


def _hist(df, col="n_tok", width=64):
    return (histogram(df, col, width, group_col="source")
            .select(F.col("group").alias("source"), "bucket", "cnt"))


@pytest.fixture(scope="module")
def clean(spark):
    return token_table(spark, 4000, seed=42)


def test_drift_compare_matches_numpy_shifted(spark, clean):
    shifted = clean.withColumn("n_tok", F.least(F.col("n_tok") * 3,
                                                F.lit(4096)))
    _assert_matches_numpy(_hist(shifted), _hist(clean))


def test_drift_compare_matches_numpy_unshifted(spark, clean):
    same = token_table(spark, 4000, seed=777)
    _assert_matches_numpy(_hist(same), _hist(clean), ks_alpha=0.05)


def test_drift_compare_matches_numpy_duplicate_baseline_buckets(spark, clean):
    # the baseline histogram lists some buckets twice (e.g. a dim
    # appended from two generations): counts merge per bucket
    base = _hist(clean)
    dup = base.where(F.col("bucket") % 2 == 0).withColumn(
        "cnt", F.col("cnt") + 3)
    _assert_matches_numpy(_hist(token_table(spark, 4000, seed=5)),
                          base.unionByName(dup))


def test_drift_compare_matches_numpy_token_frequency(spark):
    base = token_table(spark, 1500, vocab=256)
    cur = base.withColumn(
        "tokens", F.transform("tokens", lambda t: F.pmod(t, F.lit(48))))

    def tok_hist(df):
        return (grouped_token_counts(df, "tokens", group_col="source")
                .select(F.col("group").alias("source"), "bucket", "cnt"))
    _assert_matches_numpy(tok_hist(cur), tok_hist(base))


def test_one_sided_sources_get_null_stats_and_never_flag(spark):
    """A source present only in the current histogram, or only in the
    baseline, gets NULL statistics (its other total is 0) and no DRIFT
    violation, while a drifting two-sided source still flags."""
    schema = "source string, bucket bigint, cnt bigint"
    cur = spark.createDataFrame(
        [("both", 0, 5), ("both", 9, 95), ("cur_only", 1, 40)], schema)
    base = spark.createDataFrame(
        [("both", 0, 95), ("both", 9, 5), ("base_only", 2, 30)], schema)
    stats = drift_compare(cur, base)
    assert stats.schema == DataType.fromDDL(DRIFT_RESULT_SCHEMA)
    rows = {r["source"]: r for r in stats.collect()}
    assert set(rows) == {"both", "cur_only", "base_only"}
    assert rows["both"]["psi"] > 1.0
    for src, n_cur, n_base in (("cur_only", 40, 0), ("base_only", 0, 30)):
        r = rows[src]
        assert all(r[s] is None for s in STATS), r
        assert (r["n_current"], r["n_baseline"]) == (n_cur, n_base)

    data = spark.createDataFrame(
        [(f"d{i}", "both", 0 if i < 5 else 600) for i in range(100)]
        + [(f"c{i}", "cur_only", 70) for i in range(40)],
        "doc_id string, source string, n_tok int")
    baseline = spark.createDataFrame(
        [("both", "n_tok", 0, 95), ("both", "n_tok", 9, 5),
         ("base_only", "n_tok", 2, 30)],
        "source string, column_name string, bucket int, count bigint")
    rs = RuleSet.parse({"rules": [
        {"id": "DRF-1", "type": "Drift", "column": "n_tok",
         "params": {"baseline": "b", "psiMax": 0.2, "bucketWidth": 64,
                    "jsdMax": 0.01}}]})
    viol = ValidationEngine(rs, dims={"b": baseline}).validate(data)
    assert [r["source"] for r in viol.violations.collect()] == ["both"]


def test_drift_baseline_from_stats_baseline_matches_numpy(spark, clean):
    """The Drift rule's own baseline shape (the F6 dim, int buckets)."""
    dim = stats_baseline(clean, "n_tok", 64)
    base = dim.select("source", "bucket", F.col("count").alias("cnt"))
    _assert_matches_numpy(_hist(token_table(spark, 4000, seed=3)), base)
