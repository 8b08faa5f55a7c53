"""Replay drivers: batch (bounded) and Structured Streaming (tail / resume).

The streaming replayer is the engine's `transaction()` analogue
(CopyFilterPlugin.scala:45-63): it plans ONE streaming query whose
``foreachBatch`` fans each microbatch out to every leaf sink. The run id is
derived deterministically from the checkpoint location, so a restart resumes
under the SAME run id and the per-(sink, epoch, seq) commit manifests make
re-delivered microbatches no-ops — exactly-once end to end on top of
foreachBatch's at-least-once contract.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_filter_copy_spark.cdc.apply import EPOCH_DONE_SEQ, apply_batch
from embulk_filter_copy_spark.cdc.splitter import LeafSink, SinkSpec, apply_transforms, flatten_specs
from embulk_filter_copy_spark.fixtures.generator import EVENT_SCHEMA
from embulk_filter_copy_spark.lake.schema import spark_type
from embulk_filter_copy_spark.lake.table import LakeTable


def event_struct() -> T.StructType:
    return T.StructType(
        [T.StructField(n, spark_type(t), True) for n, t in EVENT_SCHEMA]
    )


def run_id_for_checkpoint(checkpoint: str) -> str:
    """Stable across restarts (NEVER random — resume must see the same id;
    contrast with the reference's random txn id, Utils.scala:12-18, which
    only namespaces concurrent runs and is not resume-relevant)."""
    return hashlib.sha1(os.path.abspath(checkpoint).encode()).hexdigest()[:12]


class FanoutApplier:
    """foreachBatch callable: persist once, merge into every leaf sink —
    concurrently. The reference runs every copy branch on its own thread
    (CopyFilterPlugin.scala:97-114, ReuseInputExecutorPlugin.scala:37-51);
    here each sink's merge is submitted from its own driver thread, so
    Spark's scheduler overlaps the N independent merge jobs instead of
    serializing them — with idle cluster capacity, epoch latency approaches
    max(per-sink merge) rather than sum. Per-(sink, epoch) manifests make
    the concurrent commits independent; a failed sink fails the epoch and
    the at-least-once restart re-applies only the sinks whose manifests are
    missing."""

    def __init__(
        self,
        spark: SparkSession,
        leaves: list[LeafSink],
        run_id: str,
        keys: tuple[str, ...] = ("repo", "path"),
        dedup: str = "plain",
        n_salts: int = 16,
        quarantine: tuple[str, int] | None = None,
        merge_mode: str = "cow",
        max_sink_threads: int = 8,
        dead_letter: str | None = None,
        audit_sql: str | None = None,
        agg_views: dict[str, list[str]] | None = None,
    ):
        self.spark = spark
        self.leaves = leaves
        self.run_id = run_id
        self.keys = keys
        self.dedup = dedup
        self.n_salts = n_salts
        self.quarantine = quarantine
        self.merge_mode = merge_mode
        self.dead_letter = dead_letter
        self.audit_sql = audit_sql
        self.agg_views = agg_views or {}
        unknown = set(self.agg_views) - {l.name for l in leaves}
        if unknown:
            raise ValueError(f"agg_views name unknown sinks: {sorted(unknown)}")
        self.max_sink_threads = max_sink_threads
        self.results: list[dict] = []
        self._keys_match: bool | None = None
        if audit_sql is not None:
            # history sinks are append-only version stores; rolling one back
            # per-epoch would also erase its sub-unit lineage records —
            # reject at build time rather than half-undoing an epoch
            bad = [l.name for l in leaves if l.mode == "history"]
            if bad:
                raise ValueError(
                    f"audit_sql cannot gate history sinks {bad}: the "
                    "write-audit-publish rollback applies to merge sinks"
                )
        if dedup == "patch":
            # fail at stream-build time, not on epoch 1: (a) the shared-dedup
            # path would hand apply_batch dedup='skip' and bypass its own
            # patch-requires-cow guard, so MOR sinks would append op='P'
            # delta rows that no read path resolves; (b) a history sink
            # records each event as a full version image — a partial image
            # would be frozen into history with NULLs for untouched columns
            if merge_mode != "cow":
                raise ValueError(
                    "dedup='patch' requires merge_mode='cow': patch rows "
                    "resolve per column against the target at merge time, "
                    "and MOR delta appends never read the target"
                )
            bad = [l.name for l in leaves if l.mode == "history"]
            if bad:
                raise ValueError(
                    "dedup='patch' cannot feed history sinks "
                    f"{bad}: the version store records full row images; "
                    "folded partial images would freeze NULLs for untouched "
                    "columns into history"
                )
            # computed/pandas transforms read row images — on a patch row the
            # untouched columns are NULL, so anything derived from them is
            # garbage no later coalesce can repair. Only column plumbing
            # (select/drop/rename) is patch-safe.
            bad_tr = sorted({
                tr[0] for l in leaves for tr in l.transforms
                if tr[0] not in ("select", "drop", "rename")
            })
            if bad_tr:
                raise ValueError(
                    f"dedup='patch' is incompatible with {bad_tr} transforms: "
                    "they compute from row images, and a partial image's "
                    "untouched columns are NULL until merge-time resolution "
                    "against the target"
                )

    def _audit_epoch(self, pre_versions: dict, epoch_id: int) -> None:
        """Write-audit-publish for the streaming path: audit every merge
        sink's POST-TRANSFORM epoch delta (temp view ``epoch_changes``)
        sequentially; on the first violation roll EVERY sink that applied
        this epoch back to its pre-epoch snapshot — the WAL range is bad
        for all of them, and un-happening only the violating sink would
        leave the fan-out inconsistent on resume (published siblings would
        skip the poisoned epoch forever). The rollbacks re-open the
        (run, epoch) exactly-once slots, so the corrected log resumes
        through the untouched idempotent path."""
        from embulk_filter_copy_spark.cdc.audit import AuditViolation

        for leaf in self.leaves:
            table = LakeTable.load(self.spark, leaf.path)
            pre = pre_versions[leaf.path]
            if table.current_version() == pre:
                continue  # replayed already-published epoch: audited then
            table.read_changes(pre).createOrReplaceTempView("epoch_changes")
            bad = self.spark.sql(self.audit_sql)
            sample = [r.asDict() for r in bad.limit(5).collect()]
            if sample:
                n = bad.count()
                for l2 in self.leaves:
                    t2 = LakeTable.load(self.spark, l2.path)
                    if t2.current_version() > pre_versions[l2.path]:
                        t2.rollback(pre_versions[l2.path])
                raise AuditViolation(self.run_id, epoch_id, n, sample)

    # transform kinds that never add/drop/reorder ROWS — for these, LWW dedup
    # commutes with the per-sink chain, so the fan-out dedups ONCE and shares
    _PROJECTION_ONLY = {"select", "drop", "rename", "with_column"}

    def _sharable_dedup(self) -> bool:
        # a history sink consumes EVERY (key, lsn) version — the shared
        # per-key LWW collapse would silently erase its intermediate
        # versions, so sharing is off whenever one is present
        return (
            self.quarantine is None
            and all(leaf.mode == "merge" for leaf in self.leaves)
            and all(
                tr[0] in self._PROJECTION_ONLY
                for leaf in self.leaves
                for tr in leaf.transforms
            )
        )

    def _sinks_keyed_like_stream(self) -> bool:
        """Sharing also requires every sink table to dedup on the SAME keys
        as the stream — a sink keyed on a subset (e.g. repo only) needs its
        own coarser LWW pass. Checked once (manifest reads only)."""
        if self._keys_match is None:
            want = list(self.keys)
            self._keys_match = all(
                LakeTable.load(self.spark, leaf.path).key_columns == want
                for leaf in self.leaves
            )
        return self._keys_match

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from embulk_filter_copy_spark.cdc.dedup import dedup_events

        dlq_cache = None
        if self.dead_letter is not None and "_bad" in batch_df.columns:
            # capture the RAW offending lines through the same idempotent
            # per-(run, epoch, sink) directory machinery as late-data
            # quarantine (crash-replay overwrites, never duplicates;
            # `compact-quarantine` GCs the DLQ root the same way). Persist
            # FIRST and probe for any bad row: a healthy stream (the steady
            # state) must not pay a parquet write job — nor accrete one
            # empty qpart dir — per epoch for an always-empty capture.
            from embulk_filter_copy_spark.cdc.apply import write_quarantine

            batch_df = batch_df.persist()
            bad = batch_df.filter(F.col("_bad"))
            if bad.limit(1).count() > 0:
                write_quarantine(
                    bad.select(
                        F.col("_raw").alias("value"),
                        F.current_timestamp().alias("read_at"),
                    ),
                    self.dead_letter, self.run_id, int(epoch_id), "_dlq",
                )
            dlq_cache = batch_df
            batch_df = batch_df.filter(~F.col("_bad")).drop("_bad", "_raw")

        dedup_mode = self.dedup
        shared_dedup_ran = False
        if (
            len(self.leaves) > 1
            and self._sharable_dedup()
            and self._sinks_keyed_like_stream()
        ):
            # shared dedup: one LWW shuffle for ALL sinks instead of one per
            # sink (schema-change rows bypass the key-grouping and are
            # re-sequenced inside apply_batch as usual)
            is_data = F.col("op") != "S"
            dd = dedup_events(
                batch_df.filter(is_data), self.dedup, keys=self.keys, n_salts=self.n_salts
            )
            # allowMissingColumns: patch-mode dedup adds merge-info columns
            # (_img_lsn/_del_lsn/_pl_*) the raw S-rows don't carry
            batch_df = dd.unionByName(
                batch_df.filter(~is_data), allowMissingColumns=True
            )
            dedup_mode = "skip"
            shared_dedup_ran = True
        if dlq_cache is None or shared_dedup_ran:
            # persist the frame the sinks share — UNLESS it is merely a
            # cheap filter/drop over the already-persisted DLQ raw cache,
            # where a second cache would hold ~2x the batch (raw line
            # included) in executor storage for the whole epoch
            batch_df = batch_df.persist()

        def apply_leaf(leaf: LeafSink) -> dict:
            table = LakeTable.load(self.spark, leaf.path)
            df = apply_transforms(batch_df, leaf.transforms, keys=self.keys)
            if leaf.mode == "history":
                # append-only version store: keeps every version (does its
                # own per-(key, lsn) transport dedup), manifest-gated
                from embulk_filter_copy_spark.cdc.history import (
                    apply_history_batch,
                )

                res = apply_history_batch(
                    table, df, run_id=self.run_id, epoch=int(epoch_id)
                )
                res["sink"] = leaf.name
                return res
            res = apply_batch(
                table,
                df,
                run_id=self.run_id,
                epoch=int(epoch_id),
                dedup=dedup_mode,
                n_salts=self.n_salts,
                quarantine=self.quarantine,
                merge_mode=self.merge_mode,
                exact_applied=False,  # Observation.get deadlocks in foreachBatch
            )
            res["sink"] = leaf.name
            return res

        pre_versions = None
        if self.audit_sql is not None:
            pre_versions = {
                leaf.path: LakeTable.load(self.spark, leaf.path).current_version()
                for leaf in self.leaves
            }
        try:
            # materialize the cache once; also satisfies Spark 4.x's
            # state-store commit validation on replayed (all-skipped) epochs,
            # which requires foreachBatch to process the whole DataFrame
            batch_df.count()
            if len(self.leaves) == 1:
                self.results.append(apply_leaf(self.leaves[0]))
            else:
                from concurrent.futures import ThreadPoolExecutor

                workers = min(len(self.leaves), self.max_sink_threads)
                with ThreadPoolExecutor(max_workers=workers) as ex:
                    futs = [ex.submit(apply_leaf, leaf) for leaf in self.leaves]
                    # gather in leaf order (deterministic results list);
                    # the first failure propagates and fails the epoch
                    self.results.extend(f.result() for f in futs)
            if pre_versions is not None:
                self._audit_epoch(pre_versions, int(epoch_id))
            if self.agg_views:
                # streaming materialized aggregates: each sink's registered
                # views refresh from its changelog AFTER the epoch publishes
                # (and after a configured audit passed — rejected epochs
                # never reach a view). Idempotent by stored table version:
                # an epoch replayed after a crash between apply and refresh
                # skips the apply and the refresh catches up here.
                from embulk_filter_copy_spark.cdc.aggview import refresh_agg_view

                for leaf in self.leaves:
                    for vp in self.agg_views.get(leaf.name, []):
                        refresh_agg_view(
                            self.spark, LakeTable.load(self.spark, leaf.path), vp
                        )
        finally:
            batch_df.unpersist()
            if dlq_cache is not None:
                dlq_cache.unpersist()


def replay_stream(
    spark: SparkSession,
    events_path: str,
    sinks: list[SinkSpec] | SinkSpec | str,
    checkpoint: str,
    keys: tuple[str, ...] = ("repo", "path"),
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
    dedup: str = "plain",
    n_salts: int = 16,
    quarantine: tuple[str, int] | None = None,
    fail_after_epoch: int | None = None,
    event_schema: T.StructType | str | None = None,
    merge_mode: str = "cow",
    progress_dir: str | None = None,
    source_format: str = "parquet",
    payload_wrapper: bool = False,
    kafka_options: dict | None = None,
    dead_letter: str | None = None,
    audit_sql: str | None = None,
    agg_views: dict[str, list[str]] | None = None,
) -> list[dict]:
    """Structured-Streaming replay of an event-log directory into N sinks.

    availableNow trigger = bounded replay (drain everything, then stop) —
    the analogue of the reference's sentinel-drain shutdown
    (LoaderState.scala:183-210). With a processing-time trigger the same
    query tails a growing log.

    ``fail_after_epoch`` injects a crash after that epoch commits (test
    hook for resume semantics).

    ``dead_letter`` (Debezium/Kafka sources only): instead of silently
    dropping malformed envelope lines, capture the raw bytes per epoch
    under this root via the idempotent quarantine-directory machinery —
    replayable, crash-safe, GC'd by ``compact-quarantine``.

    ``audit_sql`` (write-audit-publish): SQL over the temp view
    ``epoch_changes`` (each merge sink's post-transform epoch delta); any
    returned row is a violation — the epoch is rolled back on EVERY sink
    and the stream fails with :class:`cdc.audit.AuditViolation`. The
    rollbacks re-open the exactly-once slots, so a corrected log resumes
    cleanly from the same checkpoint. Merge sinks only.

    ``agg_views``: {sink name → [view paths]} of delta-maintained aggregate
    views (``cdc.aggview``) to refresh from each sink's changelog after
    every published epoch — streaming materialized aggregates. Build the
    views with ``build_agg_view`` first; refreshes are idempotent by table
    version, so crash/replay never double-counts.
    """
    if dead_letter is not None and source_format not in (
        "debezium-jsonl", "kafka",
    ):
        raise ValueError(
            "dead_letter applies to envelope sources (debezium-jsonl/kafka);"
            " typed parquet rows cannot be malformed — a configured-but-dead"
            " DLQ would be worse than none"
        )
    if isinstance(sinks, str):
        sinks = SinkSpec(name="primary", path=sinks)
    leaves = flatten_specs(sinks)
    run_id = run_id_for_checkpoint(checkpoint)
    applier = FanoutApplier(
        spark, leaves, run_id, keys=keys, dedup=dedup, n_salts=n_salts,
        quarantine=quarantine, merge_mode=merge_mode, dead_letter=dead_letter,
        audit_sql=audit_sql, agg_views=agg_views,
    )

    if fail_after_epoch is not None:
        inner = applier

        class _CrashAfter:
            def __init__(self):
                self.results = inner.results

            def __call__(self, df, eid):
                inner(df, eid)
                if eid >= fail_after_epoch:
                    raise RuntimeError(f"injected crash after epoch {eid}")

        applier = _CrashAfter()

    recorder = None
    if progress_dir is not None:
        from embulk_filter_copy_spark.streaming.metrics import ProgressRecorder

        recorder = ProgressRecorder(progress_dir)
        spark.streams.addListener(recorder)

    def _row_image_columns() -> list[tuple[str, object]]:
        # the Debezium row-image columns come from (in order): an explicit
        # event_schema (envelope columns lsn/ts/op/schema_change excluded),
        # else the FIRST sink table's schema — never a hard-coded shape
        envelope = {"lsn", "ts", "op", "schema_change"}
        if event_schema is not None:
            struct = (
                T.StructType.fromDDL(event_schema)
                if isinstance(event_schema, str)
                else event_schema
            )
            return [(f.name, f.dataType) for f in struct.fields if f.name not in envelope]
        return [
            (f.name, f.type)
            for f in LakeTable.load(spark, leaves[0].path).schema.fields
        ]

    if source_format == "debezium-jsonl":
        # Debezium JSON envelopes (newline-delimited file stream). With a
        # DLQ the _bad/_raw columns ride to foreachBatch where the applier
        # captures then drops them; without one, bad lines drop at parse.
        from embulk_filter_copy_spark.sources.debezium import read_debezium_jsonl

        opts = (
            {"maxFilesPerTrigger": max_files_per_trigger}
            if max_files_per_trigger is not None
            else None
        )
        stream = read_debezium_jsonl(
            spark, events_path, _row_image_columns(), streaming=True,
            options=opts, payload_wrapper=payload_wrapper,
            keep_raw=dead_letter is not None,
            drop_malformed=dead_letter is None,
            key_columns=tuple(keys),
        )
    elif source_format == "kafka":
        # Debezium over Kafka: ``events_path`` is the topic subscription and
        # ``kafka_options`` carries the connection config (bootstrap
        # servers, startingOffsets, maxOffsetsPerTrigger as the backpressure
        # knob). The value column funnels into the SAME parse_debezium as
        # the file stream (it is column-source-agnostic), so envelope
        # semantics — op mapping, payload unwrap, dead-letter flag — are
        # identical across transports. Requires the spark-sql-kafka package
        # on the classpath (spark-submit --packages
        # org.apache.spark:spark-sql-kafka-0-10_<scala>:<spark-version>).
        from embulk_filter_copy_spark.sources.debezium import parse_debezium

        reader = spark.readStream.format("kafka").option("subscribe", events_path)
        for k, v in (kafka_options or {}).items():
            reader = reader.option(k, v)
        raw = reader.load().selectExpr("CAST(value AS STRING) AS value")
        ev = parse_debezium(
            raw, _row_image_columns(), payload_wrapper=payload_wrapper,
            keep_raw=dead_letter is not None,
            key_columns=tuple(keys),
        )
        if dead_letter is None:
            ev = ev.filter(~F.col("_bad")).drop("_bad")
        stream = ev
    else:
        reader = spark.readStream.schema(event_schema or event_struct())
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(events_path)
    if progress_dir is not None:
        from embulk_filter_copy_spark.streaming.metrics import with_observed_metrics

        stream = with_observed_metrics(stream)
    # watermarked dedup of exact re-deliveries on the north_star key
    # (repo, path, lsn); state is bounded by the watermark. LWW + the merge
    # LSN guard downstream make this an optimization, not a correctness
    # dependency. In dead-letter mode the raw line joins the key: malformed
    # rows are all-null on (keys, lsn) and would otherwise collapse to one
    # captured line per watermark window; for well-formed rows identical
    # re-deliveries still dedup (identical bytes), and a contract-violating
    # same-LSN-different-bytes pair now reaches the LWW stage, which
    # resolves it the documented way.
    dd_keys = [*keys, "lsn", *(["_raw"] if "_raw" in stream.columns else [])]
    stream = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        dd_keys
    )
    q = (
        stream.writeStream.foreachBatch(applier)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception:
        if fail_after_epoch is None:
            raise
        # injected crash: swallow, caller restarts from checkpoint
    finally:
        if recorder is not None:
            spark.streams.removeListener(recorder)
    return applier.results


def redrive_dead_letters(
    spark: SparkSession,
    dlq_path: str,
    sink: str,
    keys: tuple[str, ...] | None = None,
    payload_wrapper: bool = False,
    event_schema: T.StructType | str | None = None,
    dedup: str = "plain",
    merge_mode: str = "cow",
) -> dict:
    """Re-parse captured dead letters and apply the survivors — the heal
    path that makes the DLQ a retry queue instead of a terminal archive.

    Dead letters hold the RAW envelope line (the only trustworthy artifact
    of an unparseable event). When the cause is fixable at the consumer —
    a payload-wrapper misconfiguration, a parser upgrade (e.g. documentKey
    support), a schema correction — redriving with corrected parse options
    recovers the events: each quarantine directory re-parses through
    ``parse_debezium`` and its survivors apply through the normal
    ``apply_batch`` path (LWW + LSN guard, so long-stale recovered events
    lose to fresher table state instead of regressing it).

    Idempotence: one deterministic epoch per quarantine DIRECTORY under a
    run id derived from the DLQ path — re-running skips directories whose
    epoch already committed, and a directory re-digested by
    ``compact-quarantine`` re-applies rows whose merge is a no-op under
    the LSN guard. Lines that STILL fail to parse stay in place and are
    counted in ``still_dead``.
    """
    from embulk_filter_copy_spark.sources.debezium import parse_debezium

    table = LakeTable.load(spark, sink)
    if keys is None:
        # the sink table knows its own keys — a hand-typed default that
        # disagreed with them would null-key-flag every patch event
        keys = tuple(table.key_columns)
    envelope = {"lsn", "ts", "op", "schema_change"}
    if event_schema is not None:
        struct = (
            T.StructType.fromDDL(event_schema)
            if isinstance(event_schema, str)
            else event_schema
        )
        columns = [
            (f.name, f.dataType) for f in struct.fields if f.name not in envelope
        ]
    else:
        columns = [(f.name, f.type) for f in table.schema.fields]
    run_id = "redrive-" + hashlib.sha1(
        os.path.abspath(dlq_path).encode()
    ).hexdigest()[:12]
    entries = sorted(
        e for e in os.listdir(dlq_path)
        if (e.startswith("qpart=") or e.startswith("qcompact="))
        and os.path.isdir(os.path.join(dlq_path, e))
    )
    applied = 0
    still_dead = 0
    dirs_done = 0
    dirs_skipped = 0
    for e in entries:
        # stable per-directory epoch: resuming a crashed redrive (or
        # re-running a finished one) skips committed directories
        epoch = int(hashlib.sha1(e.encode()).hexdigest()[:15], 16)
        if table.has_commit(run_id, epoch, EPOCH_DONE_SEQ):
            dirs_skipped += 1
            continue
        raw = spark.read.parquet(os.path.join(dlq_path, e))
        ev = parse_debezium(
            raw, columns, value_col="value",
            payload_wrapper=payload_wrapper, key_columns=tuple(keys),
        )
        dead = ev.filter(F.col("_bad")).count()
        res = apply_batch(
            table,
            ev.filter(~F.col("_bad")).drop("_bad"),
            run_id=run_id,
            epoch=epoch,
            dedup=dedup,
            merge_mode=merge_mode,
        )
        applied += res.get("rows_applied", 0)
        still_dead += dead
        dirs_done += 1
    return {
        "run_id": run_id,
        "dirs_redriven": dirs_done,
        "dirs_skipped": dirs_skipped,
        "rows_applied": applied,
        "still_dead": still_dead,
    }


def _replay_epochs(events: DataFrame, n_epochs: int, apply_epoch) -> list[dict]:
    """Cut the log into ``n_epochs`` contiguous LSN ranges and return
    ``apply_epoch(chunk, epoch)`` for each, in LSN order. One epoch skips
    the bounds scan, and an empty log is one no-op epoch either way."""
    if n_epochs == 1:
        return [apply_epoch(events, 0)]
    # materialize the log once so the per-epoch LSN filters re-read the
    # cache instead of re-scanning the source n_epochs times (on a cluster
    # the equivalent is an LSN-sorted one-pass split — repartitionByRange(lsn)
    # + per-range writes; at microbatch scale the cache is the same shape
    # with less machinery)
    events = events.persist()
    try:
        lo, hi = events.agg(F.min("lsn"), F.max("lsn")).collect()[0]
        if lo is None:
            return [apply_epoch(events, 0)]
        span = (hi - lo + 1) / n_epochs
        results = []
        for e in range(n_epochs):
            e_lo = lo + int(e * span)
            e_hi = lo + int((e + 1) * span) if e < n_epochs - 1 else hi + 1
            chunk = events.filter((F.col("lsn") >= e_lo) & (F.col("lsn") < e_hi))
            results.append(apply_epoch(chunk, e))
        return results
    finally:
        events.unpersist()


def replay_batch(
    spark: SparkSession,
    events: DataFrame,
    table: LakeTable,
    run_id: str = "batch-replay",
    n_epochs: int = 1,
    dedup: str = "plain",
    n_salts: int = 16,
    merge_mode: str = "cow",
) -> list[dict]:
    """Bounded replay without the streaming machinery: split the log into
    ``n_epochs`` contiguous LSN ranges and apply them in order. Used by M1
    correctness tests and the throughput benchmark (same apply path as
    streaming — foreachBatch calls the identical ``apply_batch``)."""
    return _replay_epochs(
        events, n_epochs,
        lambda chunk, e: apply_batch(
            table, chunk, run_id=run_id, epoch=e, dedup=dedup,
            n_salts=n_salts, merge_mode=merge_mode,
        ),
    )
