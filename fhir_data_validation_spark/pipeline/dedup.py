"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale shapes (the part that matters at 10^9 documents):

* **exact** — one hash-groupBy on the md5 fingerprint; shuffle carries
  (hash, id), never text.
* **n-gram Jaccard (exact)** — explode distinct word-shingles, self-join on
  shingle to generate candidate pairs (only pairs sharing ≥1 shingle exist),
  then one array_intersect per pair. Quadratic only within a shingle's
  posting list — use it to verify, not to discover, at corpus scale.
* **MinHash+LSH** — the discovery path: per-doc k-min-hash signature
  (one groupBy over exploded shingles, all xxhash64/min — codegen), band
  hashes, bucket self-join per band, exact-Jaccard verification of the
  (few) candidates. Shuffle volume O(docs × bands), not O(pairs).
* **SimHash** — 64-bit sign-of-weighted-bits signature; near-dup pairs by
  pigeonhole on 16-bit chunks (hamming ≤ 3 ⇒ one of 4 chunks equal), then
  ``bit_count(xor) ≤ k`` re-rank.

No Python UDFs anywhere — signatures, bands and hamming are all native
expressions.
"""

from __future__ import annotations

import threading
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import fingerprint, words


def _materialize(df: DataFrame) -> DataFrame:
    """Compute-once materialization for a DataFrame consumed by several
    downstream branches (self-joins, signature + verify passes).

    ``persist(MEMORY_AND_DISK)`` rather than ``localCheckpoint``: a
    checkpoint block dies with its executor — on a cluster a lost executor
    fails the whole job — while persisted blocks are recomputed from
    lineage. Spills to disk when the partition outgrows executor memory.

    The cached blocks live until the caller releases them: a driver loop
    deduplicating many corpora in one session should ``unpersist_all()``
    (or ``spark.catalog.clearCache()``) between corpora, or storage memory
    accumulates one shingle table per call."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _REG_LOCK:
        _MATERIALIZED.setdefault(threading.get_ident(), []).append(df)
    return df


# keyed by driver thread id: concurrent dedup jobs (FAIR-pool driver
# threads) must not unpersist each other's live intermediates. All
# registry access goes through _REG_LOCK — unsynchronized key iteration
# would race a concurrent thread's first insert.
_MATERIALIZED: dict[int, list[DataFrame]] = {}
# scratch roots created for lineage truncation, released with their
# thread's intermediates (the kept final generation is the recompute root
# of that thread's returned cluster DataFrames — gone after release)
_SCRATCH: dict[int, list[str]] = {}
_REG_LOCK = threading.Lock()


def unpersist_all(all_threads: bool = False) -> int:
    """Release the intermediates this module persisted (shingle tables,
    cluster-label scratch dirs) on the CURRENT driver thread — each
    concurrent dedup thread owns its own registry — plus any leftovers of
    threads that have since EXITED (worker threads that returned without
    cleaning up must not strand cached blocks until session end; this
    also prevents a recycled thread id from inheriting a dead thread's
    entries). ``all_threads=True`` additionally sweeps live threads'
    registries (end-of-session cleanup only; unsafe while other dedup
    threads are running). DataFrames returned by this thread's earlier
    dedup calls are invalid afterwards (their recompute roots are
    released). Returns the number of DataFrames unpersisted."""
    with _REG_LOCK:
        if all_threads:
            keys = list(_MATERIALIZED) + [k for k in _SCRATCH
                                          if k not in _MATERIALIZED]
        else:
            alive = {t.ident for t in threading.enumerate()}
            me = threading.get_ident()
            keys = [k for k in set(_MATERIALIZED) | set(_SCRATCH)
                    if k == me or k not in alive]
        claimed = [(k, _MATERIALIZED.pop(k, []), _SCRATCH.pop(k, []))
                   for k in keys]
    from pyspark.sql import SparkSession
    n = 0
    for _k, dfs, scratches in claimed:
        for df in dfs:
            try:
                df.unpersist()
                n += 1
            except Exception:  # session already stopped
                pass
        spark = SparkSession.getActiveSession()
        if spark is not None:
            for path in scratches:
                _delete_path(spark, path)    # best-effort inside
    return n


def _widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than the cluster's parallelism — a handful of input files would pin
    the (CPU-heavy, interpreted-HOF) shingling/signature stages to a
    handful of cores (measured 6× on a 3-file union at 32 cores). At
    corpus scale the input has orders of magnitude more partitions than
    cores and this is a no-op — no shuffle of raw text ever happens."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _anti_join_hot_keys(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop rows whose key appears more than ``cap`` times.

    The hot-key list is a partial-aggregated count (map-side combine, shuffle
    = distinct keys) filtered to the (few) pathological keys, then applied
    with a **broadcast** left-anti join — no skewed shuffle ever happens.
    This is the standard stop-shingle / giant-bucket defusal for LSH-family
    self-joins: one key shared by 10^6 docs would otherwise emit 5·10^11
    join rows from a single reduce task."""
    hot = (df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
           .where(F.col("_n") > cap).select(*keys))
    return df.join(F.broadcast(hot), keys, "left_anti")


# ------------------------------------------------------------------ exact ---

def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", max_examples: int = 10,
                     salt_buckets: int = 16) -> DataFrame:
    """Exact-duplicate groups by normalized-text fingerprint:
    (fingerprint, n_docs, keep = smallest id, example_ids ≤ max_examples).

    Aggregation state is bounded: the output carries counts plus at most
    ``max_examples`` ids per group (the unbounded ``collect_list`` this
    replaces shipped EVERY id of the hottest group — 10^7+ copies of the
    empty document at corpus scale — into one reduce task's in-memory
    array). The salt stage splits a pathological group over
    ``salt_buckets`` tasks, each collecting only its ~1/salt_buckets slice
    before capping; the final merge holds ≤ salt_buckets × max_examples
    ids per group. Size ``salt_buckets`` ∝ expected hottest-group size."""
    salted = (df.select(fingerprint(F.col(text_col)).alias("fingerprint"),
                        F.col(id_col).alias("_id"))
              .withColumn("_salt", F.pmod(F.xxhash64(F.col("_id")),
                                          F.lit(salt_buckets))))
    partial = (salted.groupBy("fingerprint", "_salt")
               .agg(F.count(F.lit(1)).alias("_n"),
                    F.min("_id").alias("_min"),
                    F.slice(F.sort_array(F.collect_list("_id")), 1,
                            max_examples).alias("_ex")))
    return (partial.groupBy("fingerprint")
            .agg(F.sum("_n").alias("n_docs"),
                 F.min("_min").alias("keep"),
                 F.slice(F.sort_array(F.flatten(F.collect_list("_ex"))), 1,
                         max_examples).alias("example_ids"))
            .where(F.col("n_docs") > 1))



def exact_duplicates_incremental(new_docs: DataFrame, index: DataFrame,
                                 text_col: str = "text",
                                 id_col: str = "doc_id"
                                 ) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup: classify only the NEW documents of a
    snapshot delta against a persisted fingerprint index — the historical
    corpus is never re-scanned. ``index`` has columns ``(fingerprint,
    keep)`` with ``keep`` = the canonical keeper id (build the first one
    from :func:`exact_duplicates` output or start empty).

    Returns ``(verdicts, index_delta)``:

    - ``verdicts`` — one row per new doc: ``(doc_id, fingerprint, keep,
      dup)``; ``dup`` is true when the fingerprint is already indexed or
      an earlier (smaller-id) doc in the same batch owns it.
    - ``index_delta`` — ``(fingerprint, keep)`` rows for fingerprints NEW
      to the index (keeper = smallest batch id): append them to the index
      table (e.g. a PyIcebergTable; pair with ``incremental()`` for the
      delta input) and the next batch dedups against them.

    Scale shape: one map-side-combined fingerprint agg over the DELTA
    (O(new docs)) and one hash join against the index keyed by
    fingerprint. Per-batch work is O(delta + matched index rows) — a
    daily 0.1% append to a 100-TB corpus costs 0.1% of a full dedup.
    Bucket both the index table and the batch by ``fingerprint`` to make
    the join exchange-free on the index side.
    """
    # fps feeds the batch-min agg AND the verdicts join; keepers feeds the
    # verdicts join AND index_delta — persist both (this module's shared-
    # subtree convention) or the delta fingerprint scan and the index
    # min-agg recompute once per consumer
    fps = _materialize(
        new_docs.select(F.col(id_col).alias("doc_id"),
                        fingerprint(F.col(text_col)).alias("fingerprint")))
    # NULL fingerprints (null text) stay OUT of the grouping and the
    # index: NULL never equi-joins, so such docs would vanish from
    # verdicts and re-append a (NULL, keep) index row every batch —
    # they instead report dup=false below, same contract as
    # simhash_incremental's wordless docs (round-5 review batch 11)
    nn = fps.where(F.col("fingerprint").isNotNull())
    batch_min = (nn.groupBy("fingerprint")
                 .agg(F.min("doc_id").alias("_batch_keep")))
    # defensive min-reduce: a duplicate fingerprint row in the index
    # (e.g. a union of overlapping deltas) would otherwise fan out every
    # matching verdict; map-side combined, same shuffle the join needs
    idx = (index.select("fingerprint", F.col("keep").alias("_idx_keep"))
           .groupBy("fingerprint")
           .agg(F.min("_idx_keep").alias("_idx_keep")))
    keepers = _materialize(
        batch_min.join(idx, "fingerprint", "left")
        .select("fingerprint",
                F.coalesce("_idx_keep", "_batch_keep").alias("keep"),
                F.col("_idx_keep").isNull().alias("_new_fp")))
    verdicts = (fps.join(keepers, "fingerprint", "left")
                .withColumn("keep", F.coalesce("keep", F.col("doc_id")))
                .select("doc_id", "fingerprint", "keep",
                        (F.col("doc_id") != F.col("keep")).alias("dup")))
    index_delta = keepers.where("_new_fp").select("fingerprint", "keep")
    return verdicts, index_delta


# -------------------------------------------------------- n-gram Jaccard ----

def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (space-joined strings). Documents shorter
    than n words yield their whole word sequence as one shingle. Human-
    readable variant — the dedup pipeline itself uses
    :func:`shingle_hashes` (identical set cardinalities, no string
    allocation)."""
    w = words(col)
    k = F.size(w)
    shingled = F.transform(
        F.sequence(F.lit(1), k - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)))
    return F.array_distinct(
        F.when(k >= n, shingled)
         .when(k > 0, F.array(F.concat_ws(" ", w)))
         .otherwise(F.array().cast("array<string>")))


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct 64-bit hashes of the n-word shingles.

    Hashing inside the shingling lambda keeps postings fixed-width longs
    end-to-end (no string shuffle keys). Set cardinalities equal the string
    variant's up to 64-bit collisions (~n²/2^64), so Jaccard values are
    unchanged."""
    w = words(col)
    k = F.size(w)
    shingled = F.transform(
        F.sequence(F.lit(1), k - (n - 1)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(w, i, n))))
    return F.array_distinct(
        F.when(k >= n, shingled)
         .when(k > 0, F.array(F.xxhash64(F.concat_ws(" ", w))))
         .otherwise(F.array().cast("array<long>")))


def _shingle_table(df: DataFrame, text_col: str, id_col: str,
                   n: int) -> DataFrame:
    # Two-step projection: materialize the words array ONCE per row, then
    # shingle over the column reference. Inlining ``words(text)`` into the
    # shingling lambda (as the public shingle_hashes Column does) makes
    # every F.slice re-evaluate the split inside the interpreted HOF —
    # O(words²) splits per document, measured 2.5-9x slower on real text.
    w = (_widen(df)
         .select(F.col(id_col).alias("_id"),
                 words(F.col(text_col)).alias("_w")))
    ww = F.col("_w")
    k = F.size(ww)
    shingled = F.transform(
        F.sequence(F.lit(1), k - (n - 1)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(ww, i, n))))
    arr = F.array_distinct(
        F.when(k >= n, shingled)
         .when(k > 0, F.array(F.xxhash64(F.concat_ws(" ", ww))))
         .otherwise(F.array().cast("array<long>")))
    return w.select("_id", arr.alias("_sh")).where(F.size("_sh") > 0)


def jaccard_pairs(df: DataFrame, threshold: float = 0.6, n: int = 3,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_shingle_df: int | None = 1000) -> DataFrame:
    """N-gram-Jaccard near-duplicate pairs ≥ threshold:
    (id_a, id_b, jaccard). Emitted values are EXACT (full-set verify);
    candidate *recall* is capped by default — ``max_shingle_df=1000``
    skips pairs whose entire overlap is ultra-high-DF boilerplate
    shingles. Pass ``max_shingle_df=None`` for exhaustive discovery
    (quadratic blowup on hot shingles — small corpora only).

    Discovery/verify split: candidate pairs come from the shingle posting
    lists (pairs with zero overlap are never materialized), but the Jaccard
    value is computed from the two FULL shingle sets (``array_intersect``)
    — so the ``max_shingle_df`` cap on the posting lists bounds the
    quadratic candidate blowup without changing any emitted pair's value.

    ``max_shingle_df`` drops shingles whose document frequency exceeds the
    cap from *candidate generation only* (a stop-phrase shingle shared by
    10^6 docs would emit 5·10^11 join rows from one key; it contributes ~0
    Jaccard discrimination). A pair is missed only when EVERY shared
    shingle is above the cap — i.e. the overlap is pure boilerplate, which
    exact_duplicates/:func:`minhash_dedup` handle. None disables the cap.
    """
    sh = _materialize(_shingle_table(df, text_col, id_col, n))
    # postings carry the set size so the size-ratio bound
    # (min(|A|,|B|) < t·max ⇒ J < t) prunes AT the posting join, before
    # the distinct — no extra join, and provably-below pairs never even
    # reach the pair dedup shuffle
    posts = sh.select("_id", F.size("_sh").alias("_n"),
                      F.explode("_sh").alias("h"))
    if max_shingle_df is not None:
        posts = _anti_join_hot_keys(posts, ["h"], max_shingle_df)
    cands = (posts.alias("a")
             .join(posts.alias("b"), "h")
             .where((F.col("a._id") < F.col("b._id"))
                    & (F.least("a._n", "b._n").cast("double")
                       >= F.lit(threshold) * F.greatest("a._n", "b._n")))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"))
             .distinct())
    return _verify_jaccard(cands, sh, threshold, presized=True)


def _verify_jaccard(cands: DataFrame, sh: DataFrame, threshold: float,
                    sh_b: DataFrame | None = None,
                    a: str = "id_a", b: str = "id_b",
                    presized: bool = False) -> DataFrame:
    """Exact Jaccard over candidate pairs: join the two full shingle sets,
    one ``array_intersect`` per pair — O(candidates), no posting blowup.

    A size-ratio prefilter runs first: ``|A∩B| ≤ min(|A|,|B|)`` gives
    ``J ≤ min/max``, so any pair with ``min < threshold·max`` is provably
    below threshold and never reaches the wide set joins — the size join
    carries one long per side, pruning the candidate set (typically the
    bulk, boilerplate-overlap pairs) at a fraction of the verify cost.
    Emitted values stay EXACT. ``sh_b`` switches to cross-corpus mode
    (``a``-side ids resolve in ``sh``, ``b``-side in ``sh_b``).
    ``presized=True`` skips the prefilter — for callers (jaccard_pairs)
    that already applied the size bound during candidate generation."""
    right = sh_b if sh_b is not None else sh
    if presized:
        pruned = cands.select(a, b)
    else:
        sizes_a = sh.select(F.col("_id").alias(a),
                            F.size("_sh").alias("_na"))
        sizes_b = right.select(F.col("_id").alias(b),
                               F.size("_sh").alias("_nb"))
        pruned = (cands.join(sizes_a, a).join(sizes_b, b)
                  .where(F.least("_na", "_nb").cast("double")
                         >= F.lit(threshold) * F.greatest("_na", "_nb"))
                  .select(a, b))
    return (pruned
            .join(sh.select(F.col("_id").alias(a),
                            F.col("_sh").alias("sh_a")), a)
            .join(right.select(F.col("_id").alias(b),
                               F.col("_sh").alias("sh_b")), b)
            .withColumn("common",
                        F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn("jaccard",
                        F.round(F.col("common").cast("double")
                                / (F.size("sh_a") + F.size("sh_b")
                                   - F.col("common")), 4))
            .where(F.col("jaccard") >= threshold)
            .select(a, b, "jaccard"))


# ----------------------------------------------------------- MinHash+LSH ----

def minhash_signatures(df: DataFrame, n_hashes: int = 128, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       shingles: DataFrame | None = None) -> DataFrame:
    """k-min-hash signature per document: (_id, sig array<bigint>).

    One groupBy over the exploded shingle postings with ``n_hashes`` min
    aggregates of ``xxhash64(shingle, perm)`` — fully codegen, map-side
    partial aggregation keeps the shuffle at O(docs × n_hashes).
    ``shingles`` lets callers reuse a materialized shingle table."""
    sh = shingles if shingles is not None else _shingle_table(
        df, text_col, id_col, n)
    posts = sh.select("_id", F.explode("_sh").alias("s"))
    aggs = [F.min(F.xxhash64(F.col("s"), F.lit(p))).alias(f"h{p}")
            for p in range(n_hashes)]
    sig = posts.groupBy("_id").agg(*aggs)
    return sig.select("_id", F.array(*[F.col(f"h{p}")
                                       for p in range(n_hashes)]).alias("sig"))


def _check_bands(n_hashes: int, bands: int) -> None:
    """Reject band splits that silently break LSH: ``bands > n_hashes``
    makes rows-per-band 0 (every doc shares each band's single bucket —
    with the default bucket cap that is ZERO candidates, without it the
    full cross product), and a non-dividing split quietly ignores the
    trailing ``n_hashes % bands`` hashes."""
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if bands > n_hashes:
        raise ValueError(
            f"bands ({bands}) must not exceed n_hashes ({n_hashes}): "
            "rows-per-band would be 0 and every document would collapse "
            "into one bucket per band")
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}) "
            f"— the trailing {n_hashes % bands} hashes would be silently "
            "ignored")


def _band_buckets(sigs: DataFrame, bands: int) -> DataFrame:
    """(_id, band, bh) — one row per (doc, band) with the band-slice hash.
    Shared by within-corpus :func:`lsh_candidates` and the cross-corpus
    :func:`similarity_join`."""
    return (sigs.select(
        "_id",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(F.concat_ws(
                    ":", b,
                    F.slice(F.col("sig"),
                            b * (F.size("sig") / bands).cast("int") + 1,
                            (F.size("sig") / bands).cast("int"))
                     .cast("array<string>"))).alias("bh")))).alias("bb"))
        .select("_id", "bb.band", "bb.bh"))


def lsh_candidates(sigs: DataFrame, bands: int = 64,
                   max_bucket_size: int | None = 1000) -> DataFrame:
    """Banded-LSH candidate pairs (id_a, id_b) from equal band hashes.

    rows-per-band = n_hashes // bands; a pair collides in band b iff their
    signature slices match, so P(candidate) ≈ 1-(1-j^r)^bands — with r=2,
    bands=32 recall at j ≥ 0.6 is 1-6e-7 (effectively exact).

    ``max_bucket_size`` drops band buckets holding more than that many docs
    (quadratic pair blowup from one key). A giant bucket means a huge
    near-identical clique — exactly what :func:`exact_duplicates` already
    collapses at linear cost; handle boilerplate there first. Within a
    clique the pairs lost are mutually-duplicate pairs, not cross-cluster
    ones. None disables the cap."""
    # same guard minhash_dedup/similarity_join apply: bands > n_hashes
    # makes every band slice empty → all docs share one bucket per band
    # → the size cap drops them → ZERO candidates, silently (round-5
    # review batch 11). One first() on the driver reads the sig length.
    head = sigs.select(F.size("sig").alias("n")).first()
    if head is not None:
        _check_bands(int(head["n"]), bands)
    buckets = _band_buckets(sigs, bands)
    if max_bucket_size is not None:
        buckets = _anti_join_hot_keys(buckets, ["band", "bh"],
                                      max_bucket_size)
    return (buckets.alias("a")
            .join(buckets.alias("b"), ["band", "bh"])
            .where(F.col("a._id") < F.col("b._id"))
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"))
            .distinct())


def minhash_dedup(df: DataFrame, threshold: float = 0.6, n: int = 3,
                  n_hashes: int = 64, bands: int = 32,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_bucket_size: int | None = 1000) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified:
    (id_a, id_b, jaccard). LSH discovers candidates in O(docs × bands);
    the exact check touches only candidate pairs (array_intersect over the
    two shingle sets — no posting-list blowup)."""
    _check_bands(n_hashes, bands)
    # one materialized shingle table serves the signature aggregation and
    # both verification joins (see _materialize for the persist-vs-
    # checkpoint rationale); the signature frame (O(docs) rows) persists
    # too — lsh_candidates consumes it three ways (hot-bucket count +
    # both self-join sides) and each way would re-run the 64-min-agg
    sh = _materialize(_shingle_table(df, text_col, id_col, n))
    sigs = _materialize(
        minhash_signatures(df, n_hashes, n, text_col, id_col, shingles=sh))
    cands = lsh_candidates(sigs, bands, max_bucket_size=max_bucket_size)
    return _verify_jaccard(cands, sh, threshold)


def similarity_join(left: DataFrame, right: DataFrame,
                    threshold: float = 0.6, n: int = 3,
                    n_hashes: int = 64, bands: int = 32,
                    text_col: str = "text", id_col: str = "doc_id",
                    max_bucket_size: int | None = 1000) -> DataFrame:
    """Cross-corpus MinHash-LSH similarity join, exact-Jaccard verified:
    ``(left_id, right_id, jaccard)`` pairs with n-gram Jaccard ≥
    ``threshold`` between a document of ``left`` and one of ``right`` —
    the fuzzy join a training pipeline needs to align two corpus versions,
    match scraped docs against a licensed set, or link noisy records
    across sources (entity resolution). IDs may collide between the two
    inputs — the sides never mix.

    100-TB shape: identical to :func:`minhash_dedup` — signatures are one
    codegen min-agg per side over the shingle postings (shared, seeded
    ``xxhash64(shingle, perm)`` permutations, so both sides hash into the
    SAME LSH space); candidates come from an equi-join of the two sides'
    band buckets (only cross pairs materialize, never within-side pairs);
    the exact verify touches candidates only. ``max_bucket_size`` caps
    each side's band buckets independently (a bucket with ``a`` left and
    ``b`` right docs emits ``a×b`` join rows). At the default 64-hash /
    32-band split, recall at j ≥ threshold 0.6 is ≈ 1-6e-7 (effectively
    exact), so emitted pairs = the exact cross-pair set."""
    _check_bands(n_hashes, bands)
    sh_l = _materialize(_shingle_table(left, text_col, id_col, n))
    sh_r = _materialize(_shingle_table(right, text_col, id_col, n))
    # each side's signature frame feeds its hot-bucket count AND the
    # cross join side — persist so the min-agg runs once per side
    b_l = _band_buckets(_materialize(
        minhash_signatures(left, n_hashes, n, shingles=sh_l)), bands)
    b_r = _band_buckets(_materialize(
        minhash_signatures(right, n_hashes, n, shingles=sh_r)), bands)
    if max_bucket_size is not None:
        b_l = _anti_join_hot_keys(b_l, ["band", "bh"], max_bucket_size)
        b_r = _anti_join_hot_keys(b_r, ["band", "bh"], max_bucket_size)
    cands = (b_l.alias("a").join(b_r.alias("b"), ["band", "bh"])
             .select(F.col("a._id").alias("left_id"),
                     F.col("b._id").alias("right_id"))
             .distinct())
    return _verify_jaccard(cands, sh_l, threshold, sh_b=sh_r,
                           a="left_id", b="right_id")


# ---------------------------------------------------------------- SimHash ---

def _word_hash(col: Column, hash_fn: str) -> Column:
    """64-bit word hash for SimHash. ``xxhash64`` is the production default
    (fastest JVM-side hash). ``md5_60`` takes the top 60 bits of md5 as an
    integer — slower, but bit-for-bit reproducible in DuckDB
    (``CAST('0x'||substr(md5(w),1,15) AS BIGINT)``), which is what makes an
    exact SQL oracle for the SimHash pipeline possible."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r} "
                     "(expected 'xxhash64' or 'md5_60')")


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 64,
            hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document: (_id, simhash bigint).

    Explode words, hash each once, then ``bits`` conditional-sum aggregates
    (+1/-1 per bit) and a sign-vector reassembly — all codegen, one shuffle
    of O(docs × bits) partials."""
    posts = (_widen(df)
             .select(F.col(id_col).alias("_id"),
                     F.explode(words(F.col(text_col))).alias("w"))
             .withColumn("h", _word_hash(F.col("w"), hash_fn)))
    aggs = [F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1,
                         1).otherwise(-1)).alias(f"b{i}")
            for i in range(bits)]
    sums = posts.groupBy("_id").agg(*aggs)
    sig = reduce(lambda a, b: a + b,
                 [F.when(F.col(f"b{i}") > 0,
                         F.shiftleft(F.lit(1).cast("long"), i))
                   .otherwise(F.lit(0).cast("long"))
                  for i in range(bits)])
    return sums.select("_id", sig.alias("simhash"))


def simhash_pairs(df: DataFrame, max_distance: int = 3,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_bucket_size: int | None = 1000,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash near-duplicate pairs with hamming distance ≤ max_distance:
    (id_a, id_b, hamming). Pigeonhole: with 4 16-bit chunks, distance ≤ 3
    guarantees ≥1 equal chunk — candidates come from 4 bucket self-joins,
    then ``bit_count(a XOR b)`` re-ranks exactly. ``max_bucket_size`` caps
    a chunk bucket's quadratic blowup (see :func:`lsh_candidates`)."""
    sigs = simhash(df, text_col, id_col, hash_fn=hash_fn)
    return signature_pairs(sigs, max_distance, max_bucket_size)


def signature_pairs(sigs: DataFrame, max_distance: int = 3,
                    max_bucket_size: int | None = 1000) -> DataFrame:
    """Near-duplicate pairs from ANY 64-bit signature frame ``(_id,
    simhash)`` — the pigeonhole chunk-join core of text SimHash
    (:func:`simhash_pairs`). Complete for hamming ≤ 3 (4 16-bit
    chunks ⇒ some chunk equal); larger ``max_distance`` values still
    rerank exactly but may miss pairs whose every chunk differs."""
    # persist the (O(docs), two-long) signature frame: the hot-bucket
    # count AND both self-join sides consume it — without this the
    # upstream signature plan (e.g. SimHash's 64-aggregate vote pass over
    # every word) re-executes up to three times (measured 4.7x on d4)
    sigs = _materialize(sigs.select("_id", "simhash"))
    chunks = _simhash_chunks(sigs)
    if max_bucket_size is not None:
        # (was documented but never applied — a 10^6-doc boilerplate
        # bucket would emit 5*10^11 join rows from one reduce task)
        chunks = _anti_join_hot_keys(chunks, ["c", "chunk"],
                                     max_bucket_size)
    return (chunks.alias("a")
            .join(chunks.alias("b"), ["c", "chunk"])
            .where(F.col("a._id") < F.col("b._id"))
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    F.bit_count(F.col("a.simhash")
                                .bitwiseXOR(F.col("b.simhash")))
                     .alias("hamming"))
            .distinct()
            .where(F.col("hamming") <= max_distance))


def _simhash_chunks(sigs: DataFrame) -> DataFrame:
    """(_id, simhash) → one row per 16-bit pigeonhole chunk: (_id,
    simhash, c, chunk). Shared by :func:`simhash_pairs` and
    :func:`simhash_incremental`."""
    return (sigs.select(
        "_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("c"),
                     F.shiftright("simhash", 16 * c)
                      .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
            for c in range(4)])).alias("cc"))
        .select("_id", "simhash", "cc.c", "cc.chunk"))


def simhash_incremental(new_docs: DataFrame, index: DataFrame,
                        max_distance: int = 3, text_col: str = "text",
                        id_col: str = "doc_id",
                        hash_fn: str = "xxhash64",
                        max_bucket_size: int | None = 1000
                        ) -> tuple[DataFrame, DataFrame]:
    """Incremental SimHash near-dedup: classify a snapshot delta against a
    persisted signature index WITHOUT the historical text — the index is
    just ``(doc_id, simhash)`` of the surviving corpus (8 bytes + id per
    doc), so a 100-TB history dedups from a table the size of its id
    column. The near-dup analog of :func:`exact_duplicates_incremental`;
    pair with ``PyIcebergTable.incremental()`` for the delta input.

    Returns ``(verdicts, index_delta)``:

    - ``verdicts`` — one row per new doc: ``(doc_id, simhash, dup,
      dup_of, hamming)``. ``dup`` is true when some indexed doc or some
      smaller-id batch doc is within ``max_distance`` bits; ``dup_of`` is
      the smallest such id and ``hamming`` its distance (nulls when not
      a dup). Conservative keep-first semantics: a batch doc can be
      claimed by a batch dup; for exact connected-component semantics run
      :func:`duplicate_clusters` over the batch pairs instead.
    - ``index_delta`` — ``(doc_id, simhash)`` of the NON-dup new docs:
      append to the index so the next delta dedups against them.

    Candidates come from the same 4×16-bit pigeonhole chunk join as
    :func:`simhash_pairs` (complete for ``max_distance`` ≤ 3), probing
    new-batch chunks against index ∪ earlier-batch chunks; per-batch work
    is O(delta × bucket occupancy), never O(history²). ``max_bucket_size``
    defuses pathological chunk buckets (boilerplate-dominated signatures)
    exactly as in :func:`lsh_candidates` — capped buckets trade recall on
    those keys for bounded join fan-out.
    """
    if max_distance > 3:
        raise ValueError("4x16-bit pigeonhole chunks are only complete "
                         "for max_distance <= 3")
    # materialized: the 64-conditional-sum signature projection would
    # otherwise re-run for each consumer (both sides of the batch
    # self-join, the verdict join, the index delta) — the signature frame
    # is one 8-byte hash per delta doc, the text never re-scans
    sigs = _materialize(simhash(new_docs, text_col, id_col, hash_fn=hash_fn))
    idx = index.select(F.col("doc_id").alias("_id"), "simhash")
    cn, ci = _simhash_chunks(sigs), _simhash_chunks(idx)
    if max_bucket_size is not None:
        # a hot bucket in EITHER side explodes the probe join; count over
        # the union so an index hot key is defused for every future batch
        hot = (cn.select("c", "chunk").unionAll(ci.select("c", "chunk"))
               .groupBy("c", "chunk").agg(F.count(F.lit(1)).alias("_n"))
               .where(F.col("_n") > max_bucket_size).select("c", "chunk"))
        cn = cn.join(F.broadcast(hot), ["c", "chunk"], "left_anti")
        ci = ci.join(F.broadcast(hot), ["c", "chunk"], "left_anti")
    # ONE chunk equi-join against the index serves both lanes: equal-id
    # hits are REPLAYED docs (already indexed — the replay guard keeps
    # them out of the duplicate lane AND out of index_delta, so a
    # re-delivered batch is a no-op), unequal-id hits are candidates
    probe = (cn.alias("a").join(ci.alias("b"), ["c", "chunk"])
             .select(F.col("a._id").alias("doc_id"),
                     F.col("b._id").alias("match_id"),
                     F.col("a.simhash").alias("_sa"),
                     F.col("b.simhash").alias("_sb")))
    already = (probe.where(F.col("doc_id") == F.col("match_id"))
               .select("doc_id").distinct())
    vs_index = probe.where(F.col("doc_id") != F.col("match_id"))
    vs_batch = (cn.alias("a").join(cn.alias("b"), ["c", "chunk"])
                .where(F.col("a._id") > F.col("b._id"))
                .select(F.col("a._id").alias("doc_id"),
                        F.col("b._id").alias("match_id"),
                        F.col("a.simhash").alias("_sa"),
                        F.col("b.simhash").alias("_sb")))
    matches = (vs_index.unionAll(vs_batch).distinct()
               .withColumn("hamming",
                           F.bit_count(F.col("_sa")
                                       .bitwiseXOR(F.col("_sb"))))
               .where(F.col("hamming") <= max_distance)
               .groupBy("doc_id")
               .agg(F.min("match_id").alias("dup_of"),
                    F.min_by("hamming", "match_id").alias("hamming")))
    # verdicts start from the BATCH ids, not the signature frame: a doc
    # with no extractable words has no signature (the word explode emits
    # nothing), and the "one row per new doc" contract must still hold —
    # such docs report dup=false with a null simhash and are NOT indexed
    # (nothing to probe against later)
    all_ids = (new_docs.select(F.col(id_col).alias("doc_id"))
               .dropDuplicates())
    verdicts = (all_ids
                .join(sigs.withColumnRenamed("_id", "doc_id"),
                      "doc_id", "left")
                .join(matches, "doc_id", "left")
                .select("doc_id", "simhash",
                        F.col("dup_of").isNotNull().alias("dup"),
                        "dup_of", "hamming"))
    index_delta = (verdicts.where(~F.col("dup")
                                  & F.col("simhash").isNotNull())
                   .join(already, "doc_id", "left_anti")
                   .select("doc_id", "simhash"))
    return verdicts, index_delta


# ------------------------------------------------------ duplicate clusters --

def duplicate_clusters(pairs: DataFrame, max_iter: int = 20,
                       truncate_every: int = 5,
                       scratch_dir: str | None = None,
                       quality: DataFrame | None = None,
                       quality_col: str = "quality",
                       id_col: str = "doc_id") -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id, cluster,
    keep): the artifact a dedup pipeline actually consumes (drop every row
    where ``not keep``).

    Iterative min-label propagation: every doc starts as its own cluster
    label; each round joins the (symmetrized) edge list with the label
    table and takes the min label over the CLOSED neighborhood — labels
    converge to the component's minimum id in O(component diameter)
    rounds. Self-loop edges (added once, at symmetrize time) carry each
    node's own label through the same join, folding ``least(own,
    min-neighbor)`` into the groupBy, so a round is exactly ONE join +
    ONE partial-aggregated shuffle over the PAIRS (reduced data: near-dup
    pairs, not the corpus) and references the label table exactly once —
    the logical plan grows linearly per round, which matters because
    Catalyst re-analyzes the full tree every round. Convergence for
    numeric ids is a monotonic checksum, not a compare-join:
    min-propagation only ever lowers a label, so ``sum(cluster)`` is
    strictly decreasing until the fixpoint — one tiny aggregation per
    round on the already-persisted label table detects it exactly.
    String ids keep the exact compare-join (over the tiny label table).
    Early-exits when a round changes nothing.
    ``keep`` marks the component minimum (the canonical survivor — the
    same min-id convention as :func:`exact_duplicates`) — unless a
    ``quality`` frame is supplied.

    **Keep-best**: pass ``quality`` (``(id_col, quality_col)`` rows, e.g.
    a :func:`~..text.quality_score` output) and each cluster keeps its
    highest-quality member instead (ties → min id; docs missing from
    ``quality`` or with a null score rank below every scored doc) — what
    production dedup actually wants: drop the low-quality mirror, keep the
    canonical page. The winner election is two aggregations over the
    LABEL table (pair-derived, already reduced — AQE broadcasts it), the
    corpus never reshuffles.

    Every ``truncate_every`` rounds the label table is written to
    ``scratch_dir`` (default: ``<spark.sql.warehouse.dir>/_dedup_scratch/…``
    — pass a shared path on a real cluster) and re-read, truncating the
    logical plan: without this, a diameter-D component chains D joins into
    one plan, so a late-round lost-executor recompute replays every prior
    round and >15-round plans stress the optimizer. Persisted blocks keep
    the common case fast; the scratch file is the recompute root. Older
    generations are deleted on exit; the final one survives while the
    returned DataFrame is live and is released by this thread's
    :func:`unpersist_all`. ``truncate_every=0`` disables truncation.

    At 10^9-doc scale near-dup components are tiny (diameter ≲ 5 for
    boilerplate families), so the loop is a handful of shuffles over edge
    data; pathological giant components are already bounded by the
    hot-key caps upstream."""
    # persist the caller's pair list FIRST: the symmetrize union reads it
    # twice, and without a persist each branch re-runs the (expensive)
    # candidate-generation plan that produced the pairs
    pairs = _materialize(pairs.select("id_a", "id_b"))
    sym = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
           .unionByName(pairs.select(F.col("id_b").alias("src"),
                                     F.col("id_a").alias("dst"))))
    # self-loops folded into the edge table ONCE, so each round's closed-
    # neighborhood minimum is join(edges, labels) + groupBy — the label
    # table appears exactly once per round. Unioning the labels in as
    # "own label" rows every round would reference it TWICE, doubling the
    # logical plan per round: Catalyst re-analyzes the full tree each
    # round (persistence only short-circuits execution, not analysis), so
    # round cost went exponential on the DRIVER (measured 4.2/5.2/7.6/28 s
    # for rounds 0-3 over a 271-pair input).
    edges = (sym.unionByName(sym.select(F.col("src").alias("src"),
                                        F.col("src").alias("dst")))
             .distinct())
    spark = pairs.sparkSession
    # Truncate the EDGE lineage up front: the caller's pair plan is
    # typically enormous (LSH candidate generation over the whole corpus),
    # and Catalyst re-ANALYZES the full logical tree on every action —
    # persistence only short-circuits execution. Every round joins edges,
    # so without this each of the loop's ~3·rounds actions re-walks the
    # candidate plan on the driver (measured 4-8 s per action, growing to
    # 75 s by round 4, on a 271-pair input). One tiny parquet write of the
    # reduced edge list makes every round's plan start from a leaf.
    scratch_base = None
    scratch_paths: list[str] = []
    if truncate_every:
        scratch_base = _scratch_base(spark, scratch_dir)
        with _REG_LOCK:
            _SCRATCH.setdefault(threading.get_ident(),
                                []).append(scratch_base)
        epath = f"{scratch_base}/edges"
        eschema = edges.schema
        edges.write.mode("overwrite").parquet(epath)
        # explicit schema: an empty pair list writes no part files and a
        # bare read would fail schema inference
        edges = spark.read.schema(eschema).parquet(epath)
    edges = _materialize(edges)
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("cluster", F.col("id")))
    # Convergence detection is exact either way. Numeric ids get the cheap
    # path: min-propagation only ever lowers a label, so the label SUM is
    # strictly decreasing until the fixpoint — one tiny aggregation per
    # round, exact decimal(38,0) so 10^12-scale id sums never overflow.
    # Non-numeric ids (string doc_ids) have no monotone numeric injection,
    # so they keep the exact compare-join (still over the tiny persisted
    # label table, not the corpus).
    # INTEGRAL ids only: the checksum sums labels as decimal(38,0), so a
    # fractional label change smaller than 1 (double 2.2 → 2.0) would be
    # invisible and the loop would stop early with inconsistent clusters.
    # Fractional/decimal-scaled ids take the exact compare-join path.
    numeric_labels = isinstance(
        labels.schema["cluster"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    _checksum = F.sum(F.col("cluster").cast("decimal(38,0)"))
    if numeric_labels:
        # this first action also fills the edges persist — the expensive
        # pair computation runs exactly once; later rounds scan the cache
        prev_sum = labels.agg(_checksum).first()[0]
        converged = prev_sum is None  # no pairs: empty output, no rounds
    else:
        prev_sum = None
        converged = edges.limit(1).count() == 0
    prev = None
    for i in range(max_iter):
        if converged:
            break
        # closed-neighborhood minimum: the self-loops already in `edges`
        # carry each node's own label through the same join, so one
        # partial-aggregated shuffle yields least(own, min-neighbor) AND
        # keeps every id in the table — no left join, no coalesce, and
        # `labels` referenced exactly once (linear plan growth per round)
        updated = (edges
                   .join(labels.select(F.col("id").alias("dst"),
                                       F.col("cluster").alias("_nc")), "dst")
                   .groupBy(F.col("src").alias("id"))
                   .agg(F.min("_nc").alias("cluster")))
        if truncate_every and (i + 1) % truncate_every == 0:
            path = f"{scratch_base}/gen_{i}"
            updated.write.mode("overwrite").parquet(path)
            scratch_paths.append(path)
            updated = spark.read.parquet(path)
        updated = _materialize(updated)
        if numeric_labels:
            cur_sum = updated.agg(_checksum).first()[0]
            changed = cur_sum != prev_sum
            prev_sum = cur_sum
        else:
            changed = (updated.alias("u")
                       .join(labels.alias("l"), "id")
                       .where(F.col("u.cluster") != F.col("l.cluster"))
                       .limit(1).count()) > 0
        if prev is not None:
            prev.unpersist()  # only the latest two generations stay cached
        prev, labels = labels, updated
        if not changed:
            converged = True
    # superseded scratch generations are dead weight; the newest one stays
    # on disk as the recompute root of the returned (lazy) DataFrame
    for path in scratch_paths[:-1]:
        _delete_path(spark, path)
    if not converged:
        # silent non-convergence would emit inconsistent clusters AND more
        # than one keep=true per component — a consumer dropping non-keep
        # rows would retain duplicates
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds — "
            "a component has diameter > max_iter; raise max_iter")
    if quality is None:
        return labels.select(F.col("id").alias("doc_id"), "cluster",
                             (F.col("id") == F.col("cluster")).alias("keep"))
    # keep-best: -inf sentinel makes null/missing/NaN scores lose to any
    # real score while an all-null cluster still elects its min id
    # (q == max_q holds for every member, the min(id) tiebreak decides).
    # NaN folds into the sentinel too — Spark's max() ranks NaN above
    # every real score and NaN = NaN is true in the winner filter, so a
    # raw NaN would elect the UNMEASURED doc as the cluster's canonical
    # survivor (round-5 review batch 11)
    neg_inf = F.lit(float("-inf"))
    q = F.col(quality_col).cast("double")
    scored = (labels
              .join(quality.select(F.col(id_col).alias("id"),
                                   F.when(F.isnan(q), None).otherwise(q)
                                    .alias("_q")),
                    "id", "left")
              .withColumn("_q", F.coalesce("_q", neg_inf)))
    # scored feeds BOTH the max aggregation and the winner join — without
    # a persist the quality-side scan recomputes once per consumer
    scored = _materialize(scored)
    best = scored.groupBy("cluster").agg(F.max("_q").alias("_mq"))
    winner = (scored.join(best, "cluster")
              .where(F.col("_q") == F.col("_mq"))
              .groupBy("cluster").agg(F.min("id").alias("_win")))
    return (labels.join(winner, "cluster")
            .select(F.col("id").alias("doc_id"), "cluster",
                    (F.col("id") == F.col("_win")).alias("keep")))


def _span_key(col: Column, hash_fn: str) -> Column:
    """Window key for :func:`dedup_token_spans`: the comma-joined token
    slice itself (``exact`` — collision-free, string shuffle keys) or a
    64-bit hash of it (fixed-width keys; see :func:`_word_hash`)."""
    if hash_fn == "exact":
        return col
    return _word_hash(col, hash_fn)


def token_span_occurrences(df: DataFrame, k: int,
                           tokens_col: str = "tokens",
                           id_col: str = "doc_id",
                           hash_fn: str = "xxhash64") -> DataFrame:
    """``(id, s, key)`` — one row per k-token window (1-based start ``s``)
    of each document's ``array<int>`` token sequence; documents shorter
    than ``k`` tokens emit no windows. The window key is built inside the
    shingling lambda so only ``(id, int, long)`` rows ever shuffle."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    spans = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda s: F.struct(
            s.alias("s"),
            _span_key(F.concat_ws(",", F.slice(toks, s, k)),
                      hash_fn).alias("key"))))
    # when() without otherwise → null for short docs; explode drops them
    return (_widen(df.select(id_col, tokens_col))
            .select(F.col(id_col), F.explode(spans).alias("_o"))
            .select(id_col, F.col("_o.s").alias("s"),
                    F.col("_o.key").alias("key")))


def dedup_token_spans(df: DataFrame, k: int = 50,
                      tokens_col: str = "tokens",
                      id_col: str = "doc_id",
                      len_col: str | None = "n_tok",
                      hash_fn: str = "xxhash64") -> DataFrame:
    """CORPUS-level exact duplicate-span removal over pre-tokenized
    sequences, keep-first — the token-native ExactSubstr dedup of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed as distributed windowed-shingle dedup instead of a
    single-node suffix array.

    Every k-token window that occurred earlier in the corpus (occurrences
    totally ordered by ``(id, start)``) is removed at its later positions:
    a token survives iff no removed window covers it. A span of L ≥ k
    duplicated tokens is removed in full at every non-first site (its
    L-k+1 windows all repeat), while the first site keeps every window and
    is untouched — the reference behavior of ExactSubstr with the suffix
    array replaced by k-window hashing.

    Returns ``df`` with ``tokens_col`` rebuilt (``len_col`` updated when
    present) plus ``n_removed_tokens``. Documents shorter than ``k``
    tokens are never touched.

    Scale shape: the window stream is O(total corpus tokens) rows of
    ``(id, int32, int64)`` — never the token arrays themselves. It
    shuffles twice on the window key (a count + min-``(id,s)`` reduce,
    map-side combined, then the join back against the count>1 index,
    which AQE broadcasts when small); removed starts fold back per
    document (state bounded by the doc's own window count) and the
    rebuild is one projection. Grouping is by ``hash_fn`` key: 64-bit
    variants can over-drop on collisions (≈ n²/2^64); ``exact`` uses the
    joined token string itself (collision-free, heavier shuffle keys).
    """
    if k < 2:
        raise ValueError("k must be >= 2 — at 1 every repeated token "
                         "is a duplicate span")
    occ = token_span_occurrences(df, k, tokens_col, id_col, hash_fn)
    dups = (occ.groupBy("key")
            .agg(F.count(F.lit(1)).alias("_c"),
                 F.min(F.struct(F.col(id_col).alias("i"),
                                F.col("s").alias("p"))).alias("_k"))
            .where(F.col("_c") > 1)
            .select("key", "_k"))
    removed = (occ.join(dups, "key")
               .where((F.col(id_col) != F.col("_k.i"))
                      | (F.col("s") != F.col("_k.p")))
               .select(id_col, "s"))
    rm = (removed.groupBy(id_col)
          .agg(F.array_sort(F.collect_list("s")).alias("_rm")))
    toks = F.col(tokens_col)
    cov = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    clean = F.filter(
        toks,
        lambda x, i: ~F.exists(
            cov, lambda st: (st <= i + 1) & (i + 1 <= st + (k - 1))))
    out = (df.join(rm, id_col, "left")
           .withColumn("n_removed_tokens",
                       (F.size(toks) - F.size(clean)).cast("long"))
           .withColumn(tokens_col, clean)
           .drop("_rm"))
    if len_col and len_col in df.columns:
        out = out.withColumn(len_col,
                             F.size(tokens_col).cast(
                                 dict(df.dtypes)[len_col]))
    return out


def _scratch_base(spark, scratch_dir: str | None) -> str:
    """Scratch root for lineage-truncation files: a fresh uuid subdir of
    either the caller-supplied root (shared storage on a real cluster) or
    the warehouse path. ALWAYS uuid-suffixed — with deterministic names,
    two concurrent/consecutive calls sharing a scratch root would
    overwrite and then delete each other's recompute roots."""
    import uuid
    root = (scratch_dir.rstrip("/") if scratch_dir is not None
            else spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
            + "/_dedup_scratch")
    return f"{root}/{uuid.uuid4().hex}"


def _delete_path(spark, path: str) -> None:
    """Best-effort recursive delete (cleanup must never mask the result)."""
    from ..fsutil import delete
    delete(spark, path, best_effort=True)
