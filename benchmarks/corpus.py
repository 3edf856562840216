"""Seeded benchmark inputs, cached per (kind, seed, rows) and verified
before reuse.

Inputs come from the package's deterministic generators
(``sources/synth.py``): the seed changes every hash-derived value, while the
corruption bands stay keyed to ``id % 1000`` — so the expected violation
count of every banded rule is exact arithmetic for any seed.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

from harness import WORK

# violations per 1000-row block of ``dirty_token_table`` (the bands in the
# ``sources/synth.py`` docstring): rule id -> rows flagged per block
EXPECTED_PER_BLOCK = {
    "REQ-001": 10,   # 0-9    empty tokens
    "REQ-002": 2,    # 50-51  NULL source
    "LEN-001": 15,   # 0-9 empty + 20-24 over-long
    "INV-001": 10,   # 10-19  n_tok != size(tokens)
    "RGX-001": 5,    # 35-39  doc_id grammar
    "ALW-001": 5,    # 45-49  source = 'junk'
    "DOM-001": 10,   # 25-34  out-of-vocab token
    "UNQ-001": 1,    # 40-44  five rows repeat the block's first doc_id
    "REF-001": 5,    # 45-49  'junk' misses the sources dimension
}


def expected_counts(rows: int) -> dict[str, int]:
    """Per-rule violation counts of the default token rule set over
    ``rows`` dirty rows (a multiple of 1000). CRD-001 reports the
    undeclared 'junk' source once; FIX-001 never fires. DRF-001 is not
    banded and is checked separately."""
    if rows % 1000:
        raise ValueError("banded counts need a multiple of 1000 rows")
    out = {rid: n * (rows // 1000) for rid, n in EXPECTED_PER_BLOCK.items()}
    out["CRD-001"] = 1
    return out


def _fingerprint(spark, data: Path) -> tuple[int, str]:
    """(rows, SHA-256 over every data file's relative path and bytes)."""
    digest = hashlib.sha256()
    for f in sorted(p for p in data.rglob("*.parquet") if p.is_file()):
        digest.update(str(f.relative_to(data)).encode())
        digest.update(f.read_bytes())
    return spark.read.parquet(str(data)).count(), digest.hexdigest()


class Cache:
    """Parquet datasets under ``.bench_work/cache/<key>/``. A cached copy
    is reused only when its row count and checksum match the ones recorded
    when it was written; otherwise it is regenerated. Only the ``KEEP``
    most recently used datasets stay on disk."""

    KEEP = 8

    def __init__(self, spark):
        self.spark = spark
        self.hits = 0
        self.misses = 0

    def get(self, key: str, build, partition_by: str | None = None) -> str:
        path = WORK / "cache" / key
        data, manifest = path / "data", path / "manifest.json"
        if manifest.exists():
            want = json.loads(manifest.read_text())
            got = _fingerprint(self.spark, data)
            if [want["rows"], want["checksum"]] == list(got):
                self.hits += 1
                manifest.touch()
                return str(data)
        self.misses += 1
        shutil.rmtree(path, ignore_errors=True)
        writer = build().write
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(str(data))
        rows, checksum = _fingerprint(self.spark, data)
        manifest.write_text(json.dumps({"rows": rows, "checksum": checksum}))
        self._evict()
        return str(data)

    def _evict(self) -> None:
        entries = sorted((WORK / "cache").iterdir(),
                         key=lambda d: (d / "manifest.json").stat().st_mtime
                         if (d / "manifest.json").exists() else 0.0,
                         reverse=True)
        for stale in entries[self.KEEP:]:
            shutil.rmtree(stale, ignore_errors=True)


def dir_bytes(path: str | Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def corpus(cache: Cache, seed: int, rows: int) -> dict[str, str]:
    """The seeded-corruption token table plus its clean twin's n_tok
    histogram (the Drift rule's baseline)."""
    from fhir_data_validation_spark.sources.synth import (dirty_token_table,
                                                          stats_baseline,
                                                          token_table)
    spark = cache.spark
    return {
        "corpus": cache.get(
            f"corpus-s{seed}-n{rows}",
            lambda: dirty_token_table(spark, rows, seed=seed)
            .drop("_row_id")),
        "baseline": cache.get(
            f"baseline-s{seed}-n{rows}",
            lambda: stats_baseline(token_table(spark, rows, seed=seed),
                                   "n_tok", 64)),
    }


def batch_pool(cache: Cache, seed: int, batch_rows: int,
               batches: int, dirty_every: int) -> str:
    """``batches`` staged batches with disjoint doc_id ranges, in one
    parquet dataset partitioned by ``batch``: batch ``i`` holds rows
    ``[i*batch_rows, (i+1)*batch_rows)`` of the dirty table when
    ``i % dirty_every == dirty_every - 1``, else of the clean table."""
    from pyspark.sql import functions as F

    from fhir_data_validation_spark.sources.synth import (dirty_token_table,
                                                          token_table)
    spark = cache.spark
    total = batch_rows * batches

    def build():
        clean = token_table(spark, total, seed=seed, with_row_id=True)
        dirty = dirty_token_table(spark, total, seed=seed)
        batch = (F.col("_row_id") / batch_rows).cast("int")
        is_dirty = F.pmod(batch, F.lit(dirty_every)) == dirty_every - 1
        return (clean.where(~is_dirty)
                .unionByName(dirty.where(is_dirty))
                .withColumn("batch", batch).drop("_row_id"))

    return cache.get(f"batches-s{seed}-n{batch_rows}x{batches}"
                     f"-d{dirty_every}", build, partition_by="batch")

