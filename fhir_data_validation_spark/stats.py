"""Column statistics & distribution operators (SURVEY §2.8 C1–C4).

The scale-out generalization of the reference's per-value domain checks
(T1–T8) into per-*distribution* checks: one aggregation pass computes
min / max / null-rate / cardinality per column (and per group), histograms
bucket numeric columns for the drift stage, and HLL sketches give mergeable
cardinality state across runs/partitions (Spark 3.5+ ``hll_sketch_agg``).

Everything here is a single ``groupBy().agg()`` — partial aggregation
(map-side combine) keeps the shuffle proportional to groups × columns, not
rows. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, NumericType

GROUP_ALL = "<all>"


def profile(df: DataFrame, columns: list[str] | None = None,
            group_col: str | None = None, rsd: float = 0.05,
            exact_distinct: bool = False) -> DataFrame:
    """One-pass per-column profile: C1 (min/max/null-rate) + C2 (cardinality).

    Returns one row per group with a struct per column:
    ``<col>: {min, max, mean, null_rate, n_distinct}``. ``approx_count_distinct``
    (HLL, relative error ``rsd``) by default — exact distinct shuffles the
    full value set and is only for small-scale oracle parity.
    """
    # explicit [] means "no per-column stats" (just n_rows) — `or` would
    # silently profile EVERY column of a wide table (round-5 batch 12)
    columns = (columns if columns is not None
               else [f.name for f in df.schema.fields
                     if f.name != group_col])
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        dtype = df.schema[c].dataType
        col = F.col(c)
        # array columns profile their *length* (the n_tok view of tokens)
        val = F.size(col) if isinstance(dtype, ArrayType) else col
        numeric = isinstance(dtype, (NumericType, ArrayType))
        # non-numeric min/max stay lexicographic strings (per-column struct
        # types may differ; each struct is its own output column)
        lo = F.min(val).cast("double" if numeric else "string")
        hi = F.max(val).cast("double" if numeric else "string")
        # mean only where it is defined — avg over a string column would
        # ANSI-abort; non-numeric columns carry a typed null
        mean = (F.avg(val) if numeric
                else F.lit(None).cast("double")).alias("mean")
        distinct = (F.countDistinct(val) if exact_distinct
                    else F.approx_count_distinct(val, rsd))
        aggs.append(F.struct(
            lo.alias("min"), hi.alias("max"), mean,
            F.avg(col.isNull().cast("int")).alias("null_rate"),
            distinct.alias("n_distinct"),
        ).alias(c))
    if group_col is None:
        return df.agg(*aggs).select(F.lit(GROUP_ALL).alias("group"), "*")
    return (df.groupBy(F.col(group_col).cast("string").alias("group"))
            .agg(*aggs))


def histogram(df: DataFrame, column: str, bucket_width: float,
              group_col: str | None = None) -> DataFrame:
    """C4: fixed-width histogram via floor-bucketing — one hash aggregation,
    shuffle = O(groups × buckets). Output (group, bucket, cnt)."""
    # long, not int: epoch-scale magnitudes (floor(1.7e12/64) > 2^31)
    # would ANSI-abort the cast (or silently collide buckets off-ANSI) —
    # same hazard grouped_token_counts documents for token ids
    bucket = F.floor(F.col(column) / bucket_width).cast("long").alias("bucket")
    group = (F.lit(GROUP_ALL) if group_col is None
             else F.col(group_col).cast("string")).alias("group")
    return (df.where(F.col(column).isNotNull())
            .groupBy(group, bucket)
            .agg(F.count(F.lit(1)).alias("cnt")))


def quantiles(df: DataFrame, column: str,
              probs: tuple[float, ...] = (0.01, 0.25, 0.5, 0.75, 0.99),
              accuracy: int = 10_000,
              group_col: str | None = None) -> DataFrame:
    """C1b: per-group approximate quantiles in one aggregation pass
    (``approx_percentile`` — mergeable KLL-style sketch state, shuffle
    proportional to groups, not rows). Output: (group, p, value) long form
    so downstream drift checks can diff quantile vectors."""
    group = (F.lit(GROUP_ALL) if group_col is None
             else F.col(group_col).cast("string")).alias("group")
    qs = (df.where(F.col(column).isNotNull())
          .groupBy(group)
          .agg(F.percentile_approx(column, list(probs), accuracy)
               .alias("_qs")))
    pairs = F.arrays_zip(F.array(*[F.lit(p) for p in probs]).alias("p"),
                         F.col("_qs").alias("value"))
    return (qs.select("group", F.explode(pairs).alias("_e"))
            .select("group", F.col("_e.p").alias("p"),
                    F.col("_e.value").cast("double").alias("value")))


def grouped_token_counts(df: DataFrame, tokens_col: str = "tokens",
                         group_col: str | None = None,
                         sample_fraction: float | None = None,
                         seed: int = 42) -> DataFrame:
    """The one token-histogram core: (group, bucket=token-id, cnt).

    Shared by :func:`token_frequencies`, the drift rule's
    ``tokenFrequency`` mode and the synth baseline fixture — sampling
    semantics, null filtering and bucket typing live HERE only. At 10^12
    sequences the global explode is the single biggest shuffle in the
    system; ``sample_fraction`` computes frequencies on a deterministic
    row sample (rates, not counts, are what drift checks need). Partial
    aggregation combines per-partition before the shuffle either way."""
    if sample_fraction:
        df = df.sample(fraction=sample_fraction, seed=seed)
    group = (F.lit(GROUP_ALL) if group_col is None
             else F.col(group_col).cast("string")).alias("group")
    # token ids keep their native width — an int cast here would ANSI-abort
    # on bigint ids; callers needing a narrower bucket type cast the
    # (reduced) histogram, not the exploded stream
    return (df.where(F.col(tokens_col).isNotNull())
            .select(group, F.explode(tokens_col).alias("bucket"))
            .groupBy("group", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def token_frequencies(df: DataFrame, tokens_col: str = "tokens",
                      sample_fraction: float | None = None,
                      seed: int = 42) -> DataFrame:
    """C4b: corpus token-frequency table (token, cnt) — see
    :func:`grouped_token_counts` for the scale notes."""
    return (grouped_token_counts(df, tokens_col, None, sample_fraction, seed)
            .select(F.col("bucket").alias("token"), "cnt"))


def hll_sketches(df: DataFrame, columns: list[str],
                 group_col: str | None = None,
                 lg_k: int = 12) -> DataFrame:
    """C2 at scale: mergeable HyperLogLog sketches per column (binary state,
    Spark 3.5+ ``hll_sketch_agg``). Sketches from different runs/snapshots
    merge with :func:`merge_hll` — cardinality tracking across 10^12 rows
    without re-scanning history."""
    group = (F.lit(GROUP_ALL) if group_col is None
             else F.col(group_col).cast("string")).alias("group")
    aggs = [F.hll_sketch_agg(F.col(c).cast("string"), lg_k).alias(f"{c}_hll")
            for c in columns]
    return df.groupBy(group).agg(*aggs)


def merge_hll(sketches: DataFrame, columns: list[str]) -> DataFrame:
    """Union per-group sketches into global estimates:
    (column, n_distinct_estimate)."""
    aggs = [F.hll_sketch_estimate(F.hll_union_agg(f"{c}_hll")).alias(c)
            for c in columns]
    return sketches.agg(*aggs)


def snapshot_drift(table, column: str, from_snapshot: int,
                   to_snapshot: int | None = None,
                   bucket_width: float = 64.0,
                   group_col: str | None = None,
                   mode: str = "numeric",
                   ks_alpha: float = 0.01) -> DataFrame:
    """C5 over the snapshot log: distribution drift of ``column`` between
    two snapshots of a :class:`~.sources.iceberg_py.PyIcebergTable` —
    the north-star "drift checks over Iceberg snapshots" in one call.

    ``mode="numeric"`` buckets by ``bucket_width``; ``mode="tokenFrequency"``
    drifts per-token-id histograms of an array column (PSI only — token ids
    are categorical, KS needs an ordered support; gate on ``psi``).
    Each side is one JVM histogram reduction over its pinned snapshot, the
    comparison one Catalyst aggregation over the reduced data
    (:func:`~.plans.drift_compare`). Output:
    ``(source, psi, ks, ks_crit, jsd, chi2, n_current, n_baseline)``."""
    from .plans import drift_compare

    def hist(snapshot_id):
        df = table.read(snapshot_id)
        if mode == "tokenFrequency":
            h = grouped_token_counts(df, column, group_col=group_col)
            return h.select(F.col("group").alias("source"), "bucket", "cnt")
        return (histogram(df, column, bucket_width, group_col=group_col)
                .select(F.col("group").alias("source"), "bucket", "cnt"))

    return drift_compare(hist(to_snapshot), hist(from_snapshot),
                         ks_alpha=ks_alpha)


def pk_duplicates(df: DataFrame, key_col: str) -> DataFrame:
    """C3: primary-key uniqueness via hash-partitioned distinct counts —
    the standalone form of the engine's Unique rule. Returns duplicated keys
    with their multiplicity; violation volume bounded by bad keys."""
    return (df.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") > 1))


def token_count_ws(col: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0, NULL stays
    NULL. Splits on FULL whitespace (``\\s``) and discards boundary
    empties — the old trim-then-split chain stripped only SPACES
    (Spark ``trim`` semantics), so a newline-terminated doc gained a
    phantom trailing token, a blank-but-newline doc counted 2, and a
    CRLF doc glued ``\\r`` onto its tokens (round-5 review batch 12)."""
    # explicit class, not \s: Java \s includes \x0B where RE2's does
    # not — the oracle states the identical class (round-5 batch 13)
    toks = F.filter(F.split(col, "[ \\t\\n\\x0B\\f\\r]+"),
                    lambda w: w != "")
    return F.when(col.isNull(), F.lit(None).cast("int")) \
            .otherwise(F.size(toks))


def data_card(df: DataFrame, by: str = "source", text_col: str = "text",
              all_label: str = "<all>", exact: bool = True,
              accuracy: int = 10000) -> DataFrame:
    """Per-stratum dataset datasheet (the summary block of a data card /
    model-card datasheet): document count, character and whitespace-token
    volume, and length quantiles (p50/p90/p99) per ``by`` value, plus a
    corpus-total row labelled ``all_label`` — ONE ``rollup`` aggregation
    (single Expand + map-side-combined hash agg, one shuffle; no
    per-stratum re-scan).

    ``exact=True``: interpolated R-7 percentiles (DuckDB ``quantile_cont``
    twin) — buffer holds each group's distinct lengths, fine for bounded
    doc lengths; ``exact=False``: ``approx_percentile`` mergeable sketch,
    the 100-TB path for unbounded metrics. Null texts contribute to
    ``n_docs`` only (every other aggregate skips them)."""
    ln = F.length(F.col(text_col)).cast("double")

    def q(p: float):
        return (F.percentile(ln, F.lit(p)) if exact
                else F.approx_percentile(ln, F.lit(p), F.lit(accuracy)))

    return (df.rollup(by)
            .agg(F.grouping(by).alias("_g"),
                 F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length(F.col(text_col))).alias("n_chars"),
                 F.sum(token_count_ws(F.col(text_col))).alias("n_tokens"),
                 q(0.5).alias("p50_len"), q(0.9).alias("p90_len"),
                 q(0.99).alias("p99_len"))
            .select(F.when(F.col("_g") == 1, F.lit(all_label))
                     .otherwise(F.col(by).cast("string")).alias(by),
                    "n_docs", "n_chars", "n_tokens",
                    "p50_len", "p90_len", "p99_len"))


def rollup_counts(df: DataFrame, dims: list[str],
                  value_col: str | None = None,
                  all_label: str = "<all>") -> DataFrame:
    """Hierarchical ROLLUP aggregation: one row per prefix level of
    ``dims`` — (d1, d2), (d1, <all>), (<all>, <all>) — with ``n_rows``
    (and ``total`` when ``value_col`` given) plus ``level`` =
    ``grouping_id`` (0 = finest, bits set right-to-left as dims roll up).

    The OLAP drill-down report in ONE pass: Catalyst expands the rollup
    into grouping sets inside a single Expand + hash aggregate — map-side
    combined, one shuffle, no per-level re-scan. Rolled-up dimension
    values are labelled ``all_label`` so downstream consumers (and the
    DuckDB oracle) never meet NULL group keys."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if value_col is not None:
        # double regardless of input width: an integer column's exact sum
        # would come back long here but double from ANSI-SQL round()
        aggs.append(F.round(F.sum(value_col), 4).cast("double")
                    .alias("total"))
    return _grouping_sets(df.rollup(*dims), dims, aggs, all_label)


def cube_counts(df: DataFrame, dims: list[str],
                value_col: str | None = None,
                all_label: str = "<all>") -> DataFrame:
    """CUBE aggregation: every subset combination of ``dims`` — the full
    cross-dimensional report (:func:`rollup_counts` covers only the
    hierarchical prefixes). Same single Expand + map-side-combined
    aggregate plan; output is 2^|dims| grouping sets, so keep ``dims``
    small (the Expand multiplies the scan by the set count)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 4).cast("double")
                    .alias("total"))
    return _grouping_sets(df.cube(*dims), dims, aggs, all_label)


def _grouping_sets(grouped, dims: list[str], aggs, all_label: str):
    out = grouped.agg(F.grouping_id().alias("level"), *aggs)
    for d in dims:
        out = out.withColumn(d, F.coalesce(F.col(d).cast("string"),
                                           F.lit(all_label)))
    return out


def pivot_counts(df: DataFrame, row_dim: str, col_dim: str,
                 col_values: list[str],
                 value_col: str | None = None) -> DataFrame:
    """Crosstab / PIVOT report: one row per ``row_dim`` value, one column
    per entry of ``col_values`` (counts, or rounded sums of
    ``value_col``), nulls filled with 0 — the wide report shape BI
    consumers expect.

    ``col_values`` is required: passing the domain explicitly keeps this
    ONE aggregation pass (Spark's value-less ``pivot`` first runs a
    blocking distinct job over the corpus to discover columns) and makes
    the output schema static — at 100 TB you know your domain; don't pay
    a full scan to rediscover it.
    """
    agg = (F.count(F.lit(1)) if value_col is None
           else F.round(F.sum(value_col), 4).cast("double"))
    out = df.groupBy(row_dim).pivot(col_dim, col_values).agg(agg)
    return out.fillna(0, subset=[str(v) for v in col_values])


def diff_tables(a: DataFrame, b: DataFrame, key_cols: list[str],
                compare_cols: list[str]) -> DataFrame:
    """Key-level reconciliation of two table versions: one row per key
    whose state differs — ``status`` ∈ ``added`` (in ``b`` only),
    ``removed`` (in ``a`` only), ``changed`` (present in both with any
    ``compare_cols`` differing, null-safe). Unchanged keys are absent, so
    output volume is the CHANGE volume, not the table size.

    One full-outer shuffle join on the key — the canonical snapshot-diff
    shape; AQE handles skewed keys, and pre-bucketing both versions by
    the key makes the join exchange-free. Column comparison uses
    null-safe equality (``IS DISTINCT FROM`` semantics), mirrored exactly
    by the SQL oracle.
    """
    pa = a.select(*key_cols, F.lit(True).alias("_in_a"),
                  *[F.col(c).alias(f"_a_{c}") for c in compare_cols])
    pb = b.select(*key_cols, F.lit(True).alias("_in_b"),
                  *[F.col(c).alias(f"_b_{c}") for c in compare_cols])
    j = pa.join(pb, key_cols, "full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
    status = (F.when(F.col("_in_a").isNull(), "added")
              .when(F.col("_in_b").isNull(), "removed")
              .when(changed, "changed"))
    return (j.withColumn("status", status)
            .where(F.col("status").isNotNull())
            .select(*key_cols, "status"))


def heavy_hitters(df: DataFrame, column: str, k: int = 100,
                  group_col: str | None = None) -> DataFrame:
    """Distributed Misra-Gries heavy-hitter summary of ``column``:
    ``(group, value, n_lo, n_hi, error_bound, n_group)`` where the TRUE
    count of every reported value lies in ``[n_lo, n_hi]``, ``n_group``
    is the group's non-null row total, and **every value whose
    true count exceeds ``error_bound`` is guaranteed present** (Agarwal
    et al. 2012, "Mergeable Summaries": MG summaries merge by counter
    addition with additive error).

    Why not ``groupBy(column).count()``: exact counting shuffles one row
    per DISTINCT value — unbounded for open-domain columns (URLs,
    fingerprints, n-grams) at corpus scale. Here each task keeps a
    k-bounded counter dict (classic MG: overflow subtracts the (k+1)-th
    largest counter from everything and drops the non-positive), emits
    ≤ ``k`` candidate rows + 1 error row per (partition, group), and the
    final reduce folds ≤ k × partitions rows — shuffle bounded by the
    summary size, never the domain.

    When ``k`` is at least the number of distinct values seen by every
    task, no subtraction ever fires, ``error_bound`` is 0 and the counts
    are EXACT — the contract-query regime; the approximate regime's
    bounds are pinned by unit tests. NULL values are ignored (they are
    null-rate territory, see :func:`profile`)."""
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # null group keys take the engine's '<null>' sentinel: pandas
    # groupby drops NaN keys by default and the final join on _g would
    # drop them too — a dup-storm concentrated in null-group rows must
    # not be invisible to the summary
    group = (F.lit(GROUP_ALL) if group_col is None
             else F.coalesce(F.col(group_col).cast("string"),
                             F.lit("<null>")))
    src = (df.where(F.col(column).isNotNull())
           .select(group.alias("_g"),
                   F.col(column).cast("string").alias("_v")))

    def summarize(batches):
        state: dict = {}       # group -> {value: counter}
        errs: dict = {}        # group -> cumulative subtraction D
        rows: dict = {}        # group -> non-null row count
        for b in batches:
            for g, sub in b.groupby("_g", sort=False):
                st = state.setdefault(g, {})
                rows[g] = rows.get(g, 0) + len(sub)
                for v, c in sub["_v"].value_counts(sort=False).items():
                    st[v] = st.get(v, 0) + int(c)
                if len(st) > 2 * k:     # amortized prune to k entries
                    d = sorted(st.values(), reverse=True)[k]
                    errs[g] = errs.get(g, 0) + d
                    state[g] = {v: c - d for v, c in st.items() if c > d}
        out = []
        for g, st in state.items():
            if len(st) > k:             # final prune to the contract size
                d = sorted(st.values(), reverse=True)[k]
                errs[g] = errs.get(g, 0) + d
                st = {v: c - d for v, c in st.items() if c > d}
            for v, c in st.items():
                out.append((g, v, int(c), 0, 0))
            out.append((g, None, 0, int(errs.get(g, 0)),
                        int(rows.get(g, 0))))
        yield pd.DataFrame(out, columns=["_g", "_v", "_c", "_d", "_n"])

    partials = src.mapInPandas(
        summarize, "_g string, _v string, _c long, _d long, _n long")
    # every subtraction event lowered EVERY (implicit) counter of its
    # task by d, so true - D <= counter <= true within a task; summing
    # counters and D across tasks keeps true ∈ [Σc, Σc + ΣD]
    per_group = (partials.where(F.col("_v").isNull())
                 .groupBy("_g").agg(F.sum("_d").alias("_D"),
                                    F.sum("_n").alias("_N")))
    return (partials.where(F.col("_v").isNotNull())
            .groupBy("_g", "_v").agg(F.sum("_c").alias("n_lo"))
            .join(per_group, "_g")
            .select(F.col("_g").alias("group"),
                    F.col("_v").alias("value"),
                    "n_lo",
                    (F.col("n_lo") + F.col("_D")).alias("n_hi"),
                    F.col("_D").alias("error_bound"),
                    F.col("_N").alias("n_group"))
            .orderBy(F.desc("n_lo"), F.asc("value")))
