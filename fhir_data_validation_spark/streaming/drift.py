"""Continuous distribution-drift monitoring.

The batch engine's Drift rule (SURVEY §2.8 C5) compares ONE table against a
baseline histogram; at a continuously-ingesting 10^12-row lake the question
becomes "is the stream drifting NOW" — this module runs the same PSI / KS /
JSD / chi-square comparison (``plans.drift_compare``) against a PINNED
baseline once per micro-batch, via ``foreachBatch``.

100-TB shape: each micro-batch reduces to a per-(source, bucket) histogram
with one JVM map-side-combined aggregation — shuffle size O(groups ×
buckets), never O(rows), and the stream never buffers; the comparison is one
Catalyst aggregation over the reduced histograms (≤ |sources| result rows
per epoch).
The baseline is a reduced frame the caller builds once (e.g. from a pinned
Iceberg snapshot via ``stats.histogram``) — persist it; every epoch reuses
it.

Reference has no streaming surface (SURVEY §2.9); this is the
continuous-validation extension of the C5 contract
(``FhirPathRuleEngine.cs`` has no analog).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def batch_drift(batch_df: DataFrame, baseline: DataFrame, column: str,
                bucket_width: float = 64.0, group_col: str | None = None,
                ks_alpha: float = 0.01) -> DataFrame:
    """One batch vs the pinned baseline: reduce ``batch_df`` to a
    ``(source, bucket, cnt)`` histogram of ``column`` and run
    :func:`~..plans.drift_compare`. ``baseline`` must already be reduced to
    the same shape (``stats.histogram(...).select(group AS source, bucket,
    cnt)``). The batch twin of each :func:`drift_stream_foreach_batch`
    epoch — use directly for snapshot-at-a-time checks."""
    from ..plans import drift_compare
    from ..stats import histogram

    cur = (histogram(batch_df, column, bucket_width, group_col=group_col)
           .select(F.col("group").alias("source"), "bucket", "cnt"))
    return drift_compare(cur, baseline, ks_alpha=ks_alpha)


def drift_stream_foreach_batch(
        stream_df: DataFrame, baseline: DataFrame, column: str,
        output_root: str, bucket_width: float = 64.0,
        group_col: str | None = None, ks_alpha: float = 0.01,
        psi_max: float | None = None,
        on_alert: Callable[[int, list], None] | None = None,
        trigger: dict | None = None):
    """Start a ``foreachBatch`` drift monitor: every micro-batch's
    ``column`` distribution is compared against the pinned ``baseline``
    and the per-epoch statistic rows (``epoch`` + the ``drift_compare``
    columns) append to ``<output_root>/drift`` — a run-over-run drift log
    in the same spirit as the lineage metric table.

    With ``psi_max`` set, every epoch whose PSI exceeds it invokes
    ``on_alert(epoch_id, offending_rows)`` — the pager hook. Alerting
    costs nothing extra: the drift output is ≤ |sources| rows per epoch,
    collected once and reused for both the sink write and the gate.

    Returns the started ``StreamingQuery``."""
    from ..session import local_frame

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = batch_drift(batch_df, baseline, column,
                          bucket_width=bucket_width, group_col=group_col,
                          ks_alpha=ks_alpha)
        out = out.withColumn("epoch", F.lit(epoch_id).cast("long"))
        rows = out.collect()  # ≤ |sources| rows — reused for sink + gate
        if not rows:
            return
        # foreachBatch is at-least-once: a replayed epoch overwrites its
        # own partition (idempotent log) and must not re-page — the
        # already-present epoch dir doubles as the alert replay guard.
        # The alert fires BEFORE the write: a crash between the two
        # re-pages on replay (at-least-once alerting) — the old
        # write-then-alert order made alerting at-MOST-once, silently
        # losing the page for any epoch that crashed in the gap
        # (round-5 review batch 8)
        spark = batch_df.sparkSession
        from ..fsutil import exists as _fs_exists
        replayed = _fs_exists(
            spark, f"{output_root}/drift/epoch={epoch_id}")
        if psi_max is not None and on_alert is not None and not replayed:
            bad = [r for r in rows
                   if r["psi"] is not None and r["psi"] > psi_max]
            if bad:
                on_alert(epoch_id, bad)
        # write-scoped dynamic overwrite: a session-level conf flip would
        # silently change overwrite semantics for every OTHER partitioned
        # write in the application (round-5 review batch 8)
        (local_frame(spark, rows, out.schema)
         .coalesce(1)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch")
         .parquet(f"{output_root}/drift"))

    writer = (stream_df.writeStream
              .foreachBatch(_process)
              .option("checkpointLocation", f"{output_root}/_checkpoint"))
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
