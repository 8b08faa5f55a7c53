"""Write-audit-publish (WAP) gate for epoch applies.

The Iceberg WAP pattern recomposed from this engine's own primitives: an
epoch is applied through the normal exactly-once merge, the epoch's DELTA
(not the table — the scalable contract at 100 TB) is audited by a
user-supplied SQL predicate over the ``epoch_changes`` view, and a
violation rolls the snapshot back to the pre-epoch version. Because
:meth:`LakeTable.rollback` restores the commit registry, the failed
epoch's exactly-once slot RE-OPENS — the corrected batch re-applies under
the same (run, epoch) through the untouched idempotent path.

Audit contract: ``audit_sql`` is any SQL over the temp view
``epoch_changes`` (the epoch's net per-key change feed: full event
envelope, ``op`` U/D, ``lsn``). Rows returned = violations; an empty
result publishes the epoch. Auditing the change feed instead of the table
keeps the gate's cost ∝ epoch size — a table-level invariant (row counts,
referential checks) can still be expressed by joining the view against the
table, but the default shape never rescans facts.

Reference contrast: the reference's transaction can only abort-all
(CopyFilterPlugin.scala:65-86 — no partial undo, no resume of a rejected
stage); here a rejected epoch is surgically un-happened while every
published epoch stays committed and resumable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from embulk_filter_copy_spark.cdc.apply import apply_batch
from embulk_filter_copy_spark.cdc.replayer import _replay_epochs
from embulk_filter_copy_spark.lake.table import LakeTable


class AuditViolation(RuntimeError):
    """An epoch's changes failed the audit; the snapshot was rolled back."""

    def __init__(self, run_id: str, epoch: int, n_violations: int, sample: list[dict]):
        self.run_id = run_id
        self.epoch = epoch
        self.n_violations = n_violations
        self.sample = sample
        super().__init__(
            f"audit rejected epoch {epoch} of run {run_id!r}: "
            f"{n_violations} violating row(s), e.g. {sample[:3]}; "
            "the epoch was rolled back and its exactly-once slot re-opened"
        )


def apply_batch_audited(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    run_id: str,
    epoch: int,
    audit_sql: str,
    **apply_kwargs,
) -> dict:
    """Apply one epoch, audit its delta, publish or roll back.

    Returns ``apply_batch``'s result dict with ``audited: True`` on
    publish. Raises :class:`AuditViolation` on rejection (table state is
    the pre-epoch snapshot afterwards; re-running with a corrected batch
    applies normally). An epoch skipped by the exactly-once registry is
    returned as-is — it was audited when it first published."""
    pre = table.current_version()
    res = apply_batch(table, batch, run_id=run_id, epoch=epoch, **apply_kwargs)
    if res.get("skipped"):
        return res
    changes = table.read_changes(pre)
    changes.createOrReplaceTempView("epoch_changes")
    bad = spark.sql(audit_sql)
    sample = [r.asDict() for r in bad.limit(5).collect()]
    if sample:
        n = bad.count()
        if table.current_version() > pre:
            table.rollback(pre)
        raise AuditViolation(run_id, epoch, n, sample)
    return dict(res, audited=True)


def replay_batch_audited(
    spark: SparkSession,
    events: DataFrame,
    table: LakeTable,
    audit_sql: str,
    run_id: str = "batch-replay",
    n_epochs: int = 1,
    **apply_kwargs,
) -> list[dict]:
    """Bounded audited replay: contiguous LSN epochs, each individually
    gated — the first rejected epoch rolls back and raises, leaving every
    earlier epoch published (they passed their own audits)."""
    return _replay_epochs(
        events, n_epochs,
        lambda chunk, e: apply_batch_audited(
            spark, table, chunk, run_id, e, audit_sql, **apply_kwargs
        ),
    )
