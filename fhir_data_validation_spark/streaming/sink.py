"""Structured-Streaming sink into a :class:`~..sources.iceberg_py.
PyIcebergTable` — the write half of the continuous loop whose read half
is :class:`.SnapshotMonitor`:

    stream → ``foreachBatch`` append snapshots → snapshot log →
    monitor poll → delta validation

Each micro-batch commits ONE append snapshot, so the snapshot log doubles
as the stream's batch history (time-travel to any batch boundary,
``incremental()`` between any two). Exactly-once: Spark's ``foreachBatch``
re-runs a batch after a failure with the SAME ``epoch_id`` — the sink
writes the epoch into the TABLE PROPERTIES (and, for provenance, the
snapshot summary) of the very commit that carries the batch
(``append(summary_extra=…, properties_extra=…)``), so the replay marker
is atomic with the data: a crash anywhere leaves either no commit
(replay re-appends) or a commit whose metadata already names the epoch
(replay skips). A sidecar guard file would reopen the gap — written
before the commit it can skip a batch that never landed; written after,
a crash in between double-appends on replay. The property (not just the
summary) is the durable guard because ``compact`` + ``expire_snapshots``
delete old snapshots — and their summaries — while the rows live on in
the kept snapshot; properties carry forward through every metadata
rewrite.

At cluster scale the same code runs unchanged — the sink only uses the
driver-side ``foreachBatch`` hook plus the table's normal append path
(executors write the parquet; the driver commits the manifest).

Cite: the reference validates one immutable bundle per request
(``Core/ValidationPipeline.cs:486-604``); this keeps the bundles flowing
in from a stream with that contract intact per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.iceberg_py import PyIcebergTable


class IcebergStreamSink:
    """``foreachBatch`` callable committing each micro-batch as an append
    snapshot, idempotent per ``(name, epoch_id)``.

    ``name`` scopes the replay guard — two different streaming queries
    appending to the same table must use distinct names (one shared name
    would make them skip each other's epochs).

    ``branch=`` stages every micro-batch on a BRANCH ref instead of main
    (write-audit-publish for streams): readers of the table see nothing
    until :func:`audit_and_publish` validates the staged delta and
    fast-forwards — the gate between "ingested" and "visible".

    ``mode="upsert"`` (with ``key=``) commits each micro-batch as a
    merge-on-read ROW DELTA instead (``merge_rows(mode='mor')``): the
    batch appends and an equality delete of its keys removes the old
    versions at read time — the streaming CDC sink, zero table scans and
    zero files rewritten per epoch. The epoch marker rides in the same
    atomic commit either way, so checkpoint replays stay exactly-once.

    FRESH-CHECKPOINT HAZARD (round-5 review batch 8): Spark resets
    ``epoch_id`` to 0 when a query starts on a NEW/cleared checkpoint
    directory, so a guard keyed only on ``name`` would silently SKIP the
    first ``last_epoch()+1`` batches of the new run. Pass ``run_id=``
    (any string tied to the checkpoint — e.g. a hash of its path, or a
    date for a reprocess) to scope the guard per run: a new run_id
    starts its epoch history at -1 and nothing is skipped. Reusing a
    run_id across two queries has the same double-skip semantics as
    reusing a name.

    ``resume_unscoped=True`` (with a ``run_id``) says the checkpoint is
    being RESUMED and may predate run scoping: when the run has no marker
    of its own, the guard reads the unscoped ``sink.{name}.epoch`` marker
    a sink without ``run_id`` wrote, so the in-flight epoch it committed
    is not appended twice. Set it only for a checkpoint Spark has already
    committed batches to (:func:`write_stream_to_table` checks this); on
    a fresh checkpoint it would skip epochs up to that marker."""

    def __init__(self, table: PyIcebergTable, name: str = "sink",
                 mode: str = "append",
                 key: str | list[str] | None = None,
                 branch: str = "main",
                 run_id: str | None = None,
                 resume_unscoped: bool = False):
        if mode not in ("append", "upsert"):
            raise ValueError(f"mode must be 'append' or 'upsert', "
                             f"got {mode!r}")
        if mode == "upsert" and not key:
            raise ValueError("upsert mode requires key=")
        if branch != "main" and mode != "append":
            raise ValueError("branch staging supports append mode only "
                             "(a MOR row delta is snapshot-scoped)")
        self.table = table
        self.name = name
        self.mode = mode
        self.key = key
        self.branch = branch
        scope = name if run_id is None else f"{name}-{run_id}"
        self._summary_key = f"sink-{scope}-epoch"
        self._prop_key = f"sink.{scope}.epoch"
        # guard keys read in order: this run's, then (resuming a run_id)
        # the unscoped keys a sink without run_id wrote
        self._guard_keys = [(self._prop_key, self._summary_key)]
        if run_id is not None and resume_unscoped:
            self._guard_keys.append((f"sink.{name}.epoch",
                                     f"sink-{name}-epoch"))
        self._last: int | None = None   # in-memory fast path per process

    def last_epoch(self) -> int:
        """Highest epoch this sink has COMMITTED. The durable record is a
        TABLE PROPERTY written in the same atomic metadata commit as the
        batch — unlike a snapshot-summary marker it survives ``compact``
        and ``expire_snapshots`` (which delete old snapshots while their
        rows live on in the kept one), and reading it is O(1), not a scan
        of every snapshot summary. The per-snapshot summary marker is
        still written for provenance, and stands in as a fallback for
        tables whose commits predate the property.

        With ``resume_unscoped`` a run that has no marker of its own
        falls back to the unscoped ``sink.{name}.epoch`` marker; the
        fallback stops once the run commits under its own key."""
        if self._last is not None:
            return self._last
        meta = self.table._load_meta()
        props = meta.get("properties", {})
        self._last = -1
        for prop_key, summary_key in self._guard_keys:
            if prop_key in props:
                self._last = int(props[prop_key])
                break
            epochs = [int(s["summary"][summary_key])
                      for s in meta.get("snapshots", [])
                      if summary_key in s.get("summary", {})]
            if epochs:
                self._last = max(epochs)
                break
        return self._last

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= self.last_epoch():       # checkpoint replay
            return
        # the epoch marker rides in THIS commit's metadata (table property
        # + snapshot summary) — atomic: either the batch landed with its
        # marker or neither exists; no window for a replay to double-append
        marker = dict(summary_extra={self._summary_key: str(epoch_id)},
                      properties_extra={self._prop_key: str(epoch_id)})
        if self.mode == "upsert":
            self.table.merge_rows(batch_df, key=self.key, mode="mor",
                                  **marker)
        else:
            self.table.append(batch_df, branch=self.branch, **marker)
        self._last = int(epoch_id)


def _has_committed_batch(spark, checkpoint_dir: str) -> bool:
    """Whether Spark's commit log under ``checkpoint_dir`` records at
    least one finished batch (files ``commits/<batchId>``)."""
    from ..fsutil import exists, list_files
    commits = f"{checkpoint_dir.rstrip('/')}/commits"
    if not exists(spark, commits):
        return False
    return any(f["path"].rsplit("/", 1)[-1].isdigit()
               for f in list_files(spark, commits))


def write_stream_to_table(stream_df: DataFrame, table: PyIcebergTable,
                          checkpoint_dir: str, name: str = "sink",
                          available_now: bool = True,
                          mode: str = "append",
                          key: str | list[str] | None = None,
                          branch: str = "main"):
    """Start a streaming query appending ``stream_df`` into ``table`` —
    one append snapshot per micro-batch, replay-safe (see
    :class:`IcebergStreamSink`). ``available_now=True`` drains the
    source's current backlog and stops (the batch-ingest pattern);
    ``False`` runs continuously. Returns the ``StreamingQuery``.

    The replay guard is scoped to this checkpoint directory (the sink's
    ``run_id``), so pointing a new run at a fresh checkpoint — where
    Spark restarts ``epoch_id`` at 0 — re-ingests from the new source
    position instead of silently skipping the first N batches against
    the old run's high-water mark. A checkpoint Spark has already
    committed batches to is a resume: there the guard also reads the
    unscoped marker of a sink without ``run_id``, so resuming a
    checkpoint written before run scoping does not re-append its
    in-flight epoch. Limit: if that older run crashed inside its first
    batch (nothing committed yet), the resume appends that batch again,
    the one-epoch replay of an unguarded sink."""
    import hashlib
    ckpt_id = hashlib.sha1(
        checkpoint_dir.rstrip("/").encode()).hexdigest()[:12]
    resuming = _has_committed_batch(stream_df.sparkSession, checkpoint_dir)
    writer = (stream_df.writeStream
              .foreachBatch(IcebergStreamSink(table, name, mode=mode,
                                              key=key, branch=branch,
                                              run_id=ckpt_id,
                                              resume_unscoped=resuming))
              .option("checkpointLocation", checkpoint_dir)
              .queryName(f"iceberg-{name}"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def audit_and_publish(table: PyIcebergTable, engine, branch: str,
                      publish_on_pass: bool = True,
                      drop_on_fail: bool = True,
                      staged_only: bool = True,
                      recreate_on_drop: bool = False) -> dict:
    """The AUDIT + PUBLISH half of write-audit-publish: validate what a
    branch staged and gate its visibility on the verdicts.

    With ``staged_only`` (default) the engine sees ONLY the rows the
    branch added on top of main (an ``incremental`` read between the two
    heads — at 10^12 rows the audit never rescans published history);
    pass ``staged_only=False`` to re-validate the branch's full state.
    A passing audit fast-forwards main to the branch head (atomic — the
    staged snapshots become visible all at once); a failing one drops the
    branch, so the bad batch never reaches a reader and
    ``expire_snapshots`` reclaims its files. Either action is skipped when
    its flag is False (dry-run auditing).

    ``recreate_on_drop=True`` re-creates the (empty, at main) branch
    right after a failing drop — REQUIRED when a continuous-mode
    streaming sink is still committing to the branch: its next
    micro-batch would otherwise die on the missing ref and take the
    whole streaming query down. Leave False for the drained
    (``available_now``) batch-gate pattern, where a vanished branch
    should be loud.

    Returns ``{"passed", "action", "staged_rows", "result"}`` — ``result``
    is the full :class:`~fhir_data_validation_spark.engine.ValidationResult`
    (violations + verdicts) for reporting, and ``action`` is one of
    ``"published"`` / ``"dropped"`` / ``None``.

    The reference validates one bundle then returns an issue list
    (``Core/ValidationPipeline.cs:486-604``); this is that same contract
    lifted onto table refs: the bundle is a staged branch, the issue list
    gates the publish."""
    meta = table._load_meta()
    ref = meta.get("refs", {}).get(branch)
    if ref is None or ref.get("type") != "branch":
        raise ValueError(f"no branch named {branch!r}")
    main_head = meta["current-snapshot-id"]
    branch_head = ref["snapshot-id"]
    if branch_head == -1:
        raise ValueError(f"branch {branch!r} has no commits to audit")
    if staged_only and main_head == branch_head:
        # nothing staged (e.g. a retry right after a successful publish):
        # short-circuit — falling through would re-validate the ENTIRE
        # branch state (a full-table scan the docstring promises never
        # happens) and a now-failing ruleset could even drop a branch
        # that staged zero bad rows
        return {"passed": True, "action": None, "staged_rows": 0,
                "result": None}
    if staged_only and main_head != -1:
        staged = table.incremental(main_head, branch_head)
    else:
        staged = table.read(ref=branch)
    # count once, BEFORE any branch mutation: validate() already scanned
    # the staged frame, and counting after a drop would re-plan against
    # a dead ref (and pay a second full scan either way at 10^12 rows)
    staged_rows = staged.count()
    result = engine.validate(staged)
    passed = result.passed()
    action = None
    # publish/drop are PINNED to the head the audit covered
    # (expected_head rides the same metadata load the commit CAS-es
    # on): a branch that advanced while validate() ran — a
    # continuous-mode sink committing epoch K mid-audit — would
    # otherwise publish K unaudited, or destroy K on drop while the
    # sink's replay guard marks it committed (round-5 review batch 8)
    if passed and publish_on_pass:
        table.fast_forward("main", branch, expected_head=branch_head)
        action = "published"
    elif not passed and drop_on_fail:
        table.drop_branch(branch, expected_head=branch_head)
        if recreate_on_drop:
            table.branch(branch)
        action = "dropped"
    return {"passed": passed, "action": action,
            "staged_rows": staged_rows, "result": result}
