"""Split-block Bloom key index — broadcastable approximate key membership.

At 100 TB the exact Reference anti-join has two cost regimes: a small dim
broadcasts (cheap), a large dim forces a sort-merge join that shuffles the
ENTIRE fact side. A Bloom filter is the classic middle path: ~2 bytes/key
instead of the dozens a hashed-relation entry costs, so dims far past the
broadcast threshold still fit every executor, and the membership probe
becomes a scan-local projection + one broadcast join — the fact side never
shuffles.

The layout is the *split-block* (register-blocked) design used by Parquet's
SBBF and Impala (public: Putze/Sanders/Singler, "Cache-, Hash- and
Space-Efficient Bloom Filters", 2007): one hash picks a single 256-bit
block per key, ``k`` more hashes set bits *within that block*. The probe
therefore needs exactly ONE block lookup — here an equi-join on the int
block id against the ``(block, w0..w3)`` table — and the bit tests are a
pure codegen projection. Build is one map-side-combined ``bit_or``
aggregation; the table has at most ``ceil(n·bits_per_key/256)`` rows.

Guarantees (the whole point for validation):

* **No false negatives** — a key that was inserted always probes True, so
  ``absent()`` rows are *definite* violations; emitting them never needs
  the exact join.
* False positives at a tunable rate: for ``bits_per_key=16, k=8`` the
  classic bound gives ``(1-e^{-k/bpk})^k ≈ 6e-4``; blocking costs a small
  constant factor on top (measured in ``tests/test_bloom.py``). A false
  positive only ever *hides* a violation behind the exact-join lane (or, in
  ``approx`` mode, misses it at the documented rate) — it never invents one.
* Blooms with identical parameters merge by ``bit_or`` — ``add()`` over a
  snapshot delta equals a rebuild over the union, so a persisted index
  maintains in O(delta) (pairs with ``PyIcebergTable.incremental``).

Hashing is ``xxhash64`` over the RAW Catalyst value, so unlike the exact
join lane there is NO numeric coercion: double ``42.0`` and bigint ``42``
hash differently. ``build()`` records the key type and ``check()`` refuses
a differently-typed probe column rather than silently missing everything.

Reference parity: the reference resolves references per resource against an
in-memory bundle index (``ReferenceResolver.cs:22-46``); this module is the
scale path for the same semantics when the "bundle" is a 10^9-key dim.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession, functions as F

BLOCK_BITS = 256          # 4 longs per block (Parquet SBBF block size)
_WORDS = BLOCK_BITS // 64

# reserved probe column names (dropped before returning)
_BLK = "_kidx_block"
_MASK = [f"_kidx_m{j}" for j in range(_WORDS)]
_WORD = [f"_kidx_w{j}" for j in range(_WORDS)]


def _probe_exprs(col: F.Column, n_blocks: int, k: int):
    """(block, [mask_w0..w3]) expressions for one key column — all codegen.

    Hash family: ``xxhash64(value, i)`` for salt ``i`` — independent draws
    per salt since the tuple differs, deterministic across sessions.
    """
    block = F.pmod(F.xxhash64(col, F.lit(0)), F.lit(n_blocks)).cast("int")
    masks = [F.lit(0).cast("long") for _ in range(_WORDS)]
    one = F.lit(1).cast("long")
    for i in range(1, k + 1):
        bit = F.pmod(F.xxhash64(col, F.lit(i)), F.lit(BLOCK_BITS)).cast("int")
        word = F.shiftright(bit, 6)
        onehot = F.call_function("shiftleft", one,
                                 F.pmod(bit, F.lit(64)).cast("int"))
        for j in range(_WORDS):
            masks[j] = masks[j].bitwiseOR(
                F.when(word == j, onehot).otherwise(F.lit(0).cast("long")))
    return block, masks


class KeyIndex:
    """Persistent split-block Bloom index over one key column.

    ``blocks`` is a DataFrame ``(block int, w0..w3 long)`` with at most
    ``n_blocks`` rows; ``key_type`` is the Catalyst ``simpleString`` of the
    indexed column (probes must match exactly — hashing has no coercion).
    """

    def __init__(self, blocks: DataFrame, n_blocks: int, k: int,
                 bits_per_key: int, n_items: int, key_type: str):
        self.blocks = blocks
        self.n_blocks = n_blocks
        self.k = k
        self.bits_per_key = bits_per_key
        self.n_items = n_items
        self.key_type = key_type

    # ------------------------------------------------------------- build
    @classmethod
    def build(cls, df: DataFrame, col: str, bits_per_key: int = 16,
              k: int = 8, n_items: int | None = None) -> "KeyIndex":
        """One map-side-combined aggregation over the dim.

        ``n_items`` sizes the filter; when omitted, the non-null row count
        stands in (an upper bound on distinct keys — oversizing only lowers
        the false-positive rate). Null keys are never inserted: a null
        reference is "no reference", not a member.
        """
        if bits_per_key < 2 or k < 1:
            raise ValueError("bits_per_key must be >= 2 and k >= 1")
        keyed = df.select(F.col(col)).where(F.col(col).isNotNull())
        if n_items is None:
            n_items = keyed.count()
        n_blocks = max(1, math.ceil(max(n_items, 1) * bits_per_key
                                    / BLOCK_BITS))
        block, masks = _probe_exprs(F.col(col), n_blocks, k)
        blocks = (keyed.select(block.alias("block"),
                               *[m.alias(f"w{j}")
                                 for j, m in enumerate(masks)])
                  .groupBy("block")
                  .agg(*[F.bit_or(f"w{j}").alias(f"w{j}")
                         for j in range(_WORDS)]))
        return cls(blocks, n_blocks, k, bits_per_key, n_items,
                   df.schema[col].dataType.simpleString())

    def add(self, df: DataFrame, col: str) -> "KeyIndex":
        """Merge a key delta in O(delta + blocks): same hashes + ``bit_or``
        make this bitwise-identical to a rebuild over the union. The
        delta scans ONCE — ``n_delta`` rides the same aggregation as a
        count of delta rows (a separate ``count()`` re-executed the
        whole upstream, e.g. an Iceberg incremental scan, a second time
        — round-5 review batch 9). The merged blocks are cached; the
        cache of this index's own merge (from an earlier ``add``) is
        released, so a chain of ``add`` calls keeps only its last."""
        self._check_type(df, col)
        block, masks = _probe_exprs(F.col(col), self.n_blocks, self.k)
        delta = (df.where(F.col(col).isNotNull())
                 .select(block.alias("block"),
                         *[m.alias(f"w{j}") for j, m in enumerate(masks)],
                         F.lit(1).alias("_n")))
        existing = self.blocks.withColumn("_n", F.lit(0))
        merged_all = (existing.unionByName(delta)
                      .groupBy("block")
                      .agg(*[F.bit_or(f"w{j}").alias(f"w{j}")
                             for j in range(_WORDS)],
                           F.sum("_n").alias("_n")))
        from pyspark import StorageLevel
        merged_all = merged_all.persist(StorageLevel.MEMORY_AND_DISK)
        n_delta = (merged_all.agg(F.sum("_n")).collect()[0][0] or 0)
        # the collect materialized the new merge: the previous one (a
        # chain of add() calls) is no longer read and leaves the cache
        previous = getattr(self, "_persisted", None)
        if previous is not None:
            previous.unpersist()
        merged = merged_all.drop("_n")
        out = KeyIndex(merged, self.n_blocks, self.k, self.bits_per_key,
                       self.n_items + int(n_delta), self.key_type)
        out._persisted = merged_all
        return out

    # ------------------------------------------------------------- probe
    def unpersist(self) -> None:
        """Release the blocks cache (``add`` persists the merged index so
        the single delta scan serves both the count and later probes)."""
        try:
            getattr(self, "_persisted", self.blocks).unpersist()
        except Exception:
            pass

    def _check_type(self, df: DataFrame, col: str) -> None:
        t = df.schema[col].dataType.simpleString()
        if t != self.key_type:
            raise TypeError(
                f"KeyIndex was built over {self.key_type!r} keys but the "
                f"probe column {col!r} is {t!r} — xxhash64 has no numeric "
                "coercion, so cast the probe to the indexed type first")

    def check(self, df: DataFrame, col: str, flag: str = "might_contain",
              broadcast: bool = True) -> DataFrame:
        """``df`` + a boolean ``flag`` column: False ⇒ key definitely not in
        the index, True ⇒ present or a false positive, null ⇒ null key.

        The probe is one equi-join on the int block id — broadcast by
        default (the blocks table is ~``2·bits_per_key/16`` bytes/key; keep
        it broadcast up to a few hundred MB). ``broadcast=False`` falls back
        to a shuffle join on the uniformly-hashed block id (skew-free by
        construction) for blooms past executor memory.
        """
        self._check_type(df, col)
        block, masks = _probe_exprs(F.col(col), self.n_blocks, self.k)
        probed = df.withColumn(_BLK, block)
        for j, m in enumerate(masks):
            probed = probed.withColumn(_MASK[j], m)
        idx = self.blocks.select(
            F.col("block").alias(_BLK),
            *[F.col(f"w{j}").alias(_WORD[j]) for j in range(_WORDS)])
        if broadcast:
            idx = F.broadcast(idx)
        joined = probed.join(idx, on=_BLK, how="left")
        hit = F.col(_WORD[0]).isNotNull()
        for j in range(_WORDS):
            hit = hit & (F.col(_WORD[j]).bitwiseAND(F.col(_MASK[j]))
                         == F.col(_MASK[j]))
        out = joined.withColumn(
            flag, F.when(F.col(col).isNull(), F.lit(None).cast("boolean"))
                   .otherwise(hit))
        return out.drop(_BLK, *_MASK, *_WORD)

    def absent(self, df: DataFrame, col: str,
               broadcast: bool = True) -> DataFrame:
        """Rows whose non-null key is DEFINITELY not in the index (no false
        negatives ⇒ every returned row is a true miss)."""
        flagged = self.check(df, col, flag="_kidx_flag",
                             broadcast=broadcast)
        return (flagged.where(~F.col("_kidx_flag")).drop("_kidx_flag"))

    def fpp_estimate(self) -> float:
        """Analytic false-positive estimate at the CURRENT load (classic
        bound; blocking adds a small constant factor on top — see the
        measured test). Uses the effective bits/key from the tracked
        ``n_items``, not the build-time design constant: ``add()`` grows
        the item count inside a fixed bit array, so an over-filled index
        must report its real (degraded) fpp, not the design target."""
        if self.n_items <= 0:
            return 0.0
        eff_bits = self.n_blocks * BLOCK_BITS / self.n_items
        return (1.0 - math.exp(-self.k / eff_bits)) ** self.k

    # --------------------------------------------------------- save/load
    def save(self, path: str) -> None:
        spark = self.blocks.sparkSession
        self.blocks.write.mode("overwrite").parquet(f"{path}/blocks")
        meta = json.dumps({"n_blocks": self.n_blocks, "k": self.k,
                           "bits_per_key": self.bits_per_key,
                           "n_items": self.n_items,
                           "key_type": self.key_type})
        (spark.createDataFrame([(meta,)], "meta string")
         .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta"))

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "KeyIndex":
        m = json.loads(spark.read.parquet(f"{path}/meta").first()["meta"])
        return cls(spark.read.parquet(f"{path}/blocks"), m["n_blocks"],
                   m["k"], m["bits_per_key"], m["n_items"], m["key_type"])
