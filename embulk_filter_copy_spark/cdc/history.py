"""SCD2 (slowly-changing-dimension type 2) history from an ordered change
log — every version of every key, with its validity interval in LSN space.

The merge path (`cdc/apply.py`) keeps only the FINAL state per key; many
downstream consumers of a CDC feed (audit, point-in-time training snapshots,
"as of commit X" joins) need the full version history instead. This operator
turns the same change log the replayer consumes (one row per change, op in
{I, U, D}, totally ordered per key by LSN) into a versioned table:

  * one output row per non-delete change: the attribute values of that
    version, ``valid_from_lsn`` = its own LSN, ``valid_to_lsn`` = the LSN
    of the NEXT change to the same key (NULL while still open);
  * a delete closes the previous version (its LSN becomes that version's
    ``valid_to_lsn``) and emits no version row of its own, so a key whose
    last change is a delete has no open version — exactly the "absent from
    current state" semantics the merge path produces;
  * ``is_current`` marks the open version.

Scale shape: ONE shuffle — a window partitioned by the key — identical to
the LWW dedup the replayer already pays (`cdc/dedup.py:40`), so the history
table costs no more than the current-state table. Skewed hot keys are
bounded by per-key version counts, not corpus size; the partition column for
a materialized history table should be a bucket of the key, same as the
merge sink.

Reference parity: the reference pipeline has no history surface (it streams
pages through its copy/config stages, CopyFilterPlugin.scala:36-56); this
generalizes its pass-through copy into the versioned-feed a lake CDC
consumer expects.
"""

from __future__ import annotations

import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from embulk_filter_copy_spark.lake.schema import TableSchema
from embulk_filter_copy_spark.lake.table import LakeTable

from embulk_filter_copy_spark.cdc.apply import _write_lineage, ddl_ranges


def scd2_history(
    changes: DataFrame,
    key_cols: Sequence[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Build the SCD2 version table from an ordered change log.

    ``changes`` must carry at most one row per (key, LSN) — feed it through
    the LWW dedup first if the transport can duplicate (the replayer's
    at-least-once file source can) — duplicate (key, LSN) rows cannot be
    detected at plan-build time and would yield zero-width intervals in an
    arbitrary tie order. All non-key, non-op columns ride along as version
    attributes.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(
        F.col(lsn_col).asc()
    )
    versioned = changes.withColumn(
        "valid_to_lsn", F.lead(F.col(lsn_col)).over(w)
    )
    return (
        versioned.filter(F.col(op_col) != F.lit(delete_op))
        .withColumn("is_current", F.col("valid_to_lsn").isNull())
        .withColumnRenamed(lsn_col, "valid_from_lsn")
        .drop(op_col)
    )


def snapshot_as_of(
    history: DataFrame,
    as_of_lsn: int,
    from_col: str = "valid_from_lsn",
    to_col: str = "valid_to_lsn",
) -> DataFrame:
    """Point-in-time slice of an SCD2 table: the versions live at
    ``as_of_lsn`` (interval semantics: from inclusive, to exclusive —
    matching `lake/table.py` time travel, which is snapshot-inclusive).
    Pure narrow filter; on a history table partitioned by key-bucket this
    prunes nothing by itself, but a materialized table can additionally
    sort-order files by ``valid_from_lsn`` so footer min/max skips closed
    eras."""
    return history.filter(
        (F.col(from_col) <= F.lit(as_of_lsn))
        & (F.col(to_col).isNull() | (F.col(to_col) > F.lit(as_of_lsn)))
    ).drop("is_current")


def temporal_join(
    facts: DataFrame,
    history: DataFrame,
    key_cols: Sequence[str],
    at_col: str,
    from_col: str = "valid_from_lsn",
    to_col: str = "valid_to_lsn",
    how: str = "left",
) -> DataFrame:
    """Point-in-time (temporal) join: attach to every fact row the history
    version that was valid AT the fact's own position — the per-row
    generalization of :func:`snapshot_as_of` (one as-of per fact instead of
    one global slice), and the query the SCD2 table exists to answer
    ("what did this dimension row look like when this event happened?").
    A fact landing in a deleted gap (its at-position after a delete, before
    the next upsert) matches nothing: ``how='left'`` keeps it with NULL
    attributes, ``'inner'`` drops it.

    Distributed shape: an EQUI-join on the key columns with the interval
    predicate as a join residual — key-partitioned SMJ/shuffle-hash, never
    a cartesian range join, because a key's intervals are disjoint by
    construction (`scd2_history`'s lead() window), so each fact matches at
    most one version. At 100 TB both sides hash-partition on the same key
    (the history store already buckets by it), so the join co-locates.

    Key and interval columns are disambiguated automatically; every other
    overlapping column name keeps the FACT side's value and the history
    side's copy is dropped (attach what you need to `history` before
    calling, aliased uniquely).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    f, h = facts.alias("_f"), history.alias("_h")
    cond = None
    for k in key_cols:
        c = f[k] == h[k]
        cond = c if cond is None else cond & c
    cond = cond & (h[from_col] <= f[at_col])
    cond = cond & (h[to_col].isNull() | (f[at_col] < h[to_col]))
    joined = f.join(h, cond, how)
    keep = set(key_cols) | {at_col}
    out = [f[c].alias(c) for c in facts.columns]
    out += [
        h[c].alias(c)
        for c in history.columns
        if c not in keep and c not in facts.columns
    ]
    return joined.select(*out)


# ---------------------------------------------------------------------------
# Incremental history maintenance on a LakeTable
#
# The scalable shape is APPEND-ONLY: each epoch writes one immutable row per
# change ("version event": the attribute image + its own LSN + the op), with
# NO read of the target and NO closing-update of prior versions — closing is
# a property of the NEXT version's existence, so `read_history` derives
# `valid_to_lsn` with one per-key `lead()` window at read time (merge-on-read
# philosophy, same trade the MOR delta path makes). That keeps every epoch
# O(batch) regardless of table size: at 10^10 events an epoch never touches
# the 10^10-row history, while the closing-update design would pay a
# key-join against it per epoch.
#
# Delete events ARE stored (op='D', null attributes): they close the prior
# version via lead() and are filtered out of the version view — identical
# semantics to the batch `scd2_history` operator, which `read_history`
# literally reuses.
#
# The table is keyed (key..., valid_from_lsn) — every version is its own
# row — but BUCKETED by the key alone (`bucket_columns`), so all versions
# of a key co-locate in one bucket: point history lookups and future
# per-key rewrites prune to a single bucket.
# ---------------------------------------------------------------------------

_VER_OP = "ver_op"
_VER_LSN = "valid_from_lsn"


def create_history_table(
    spark: SparkSession,
    path: str,
    attr_schema: list[tuple[str, str]],
    key_cols: Sequence[str],
    n_buckets: int = 16,
) -> LakeTable:
    """Create the append-only version store. ``attr_schema`` lists
    (name, type) for key + attribute columns; ``valid_from_lsn`` and the
    retained op column are added by the store."""
    names = [n for n, _ in attr_schema]
    for k in key_cols:
        if k not in names:
            raise ValueError(f"key column {k!r} missing from attr_schema")
    schema = TableSchema.from_pairs(
        list(attr_schema) + [(_VER_LSN, "long"), (_VER_OP, "string")]
    )
    return LakeTable.create(
        spark,
        path,
        schema,
        key_columns=list(key_cols) + [_VER_LSN],
        n_buckets=n_buckets,
        bucket_columns=list(key_cols),
    )


def apply_history_batch(
    table: LakeTable,
    batch: DataFrame,
    run_id: str,
    epoch: int,
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> dict:
    """Append one epoch of change events as version rows, exactly once.

    At-least-once transports can duplicate (key, LSN) — the batch is
    LWW-deduped per (key, LSN) first (one shuffle over the BATCH, never the
    table). Whole-epoch replays are elided by the same (run, epoch) commit
    manifest the merge path uses; the append is O(batch).

    Schema-change events (op='S' with a ``schema_change`` payload) evolve
    the STORE's schema exactly like the merge sink (`cdc/apply.py`
    sequencing): the batch splits at each DDL's LSN, each DDL is applied
    via ``update_schema`` BEFORE the data events that follow it, and each
    data range appends under the schema current at that point — so a
    column added mid-epoch is recorded (not silently nulled) for every
    version after the DDL, and the audit history preserves exactly what
    the state table saw. Sub-units carry seq manifests (seq 1..n, DDL
    idempotence via schema_lsn), gated by a final seq=0 marker.
    """
    if table.has_commit(run_id, epoch):
        return {"skipped": True, "run_id": run_id, "epoch": epoch}
    t0 = time.time()
    import json

    schema_events: list[tuple[int, dict]] = []
    if "schema_change" in batch.columns:
        schema_events = sorted(
            (r[lsn_col], json.loads(r["schema_change"]))
            for r in batch.filter(F.col(op_col) == "S")
            .select(lsn_col, "schema_change")
            .collect()
        )
    data = batch.filter(F.col(op_col) != F.lit("S"))

    total = 0
    lineage: list[dict] = []
    if not schema_events:
        # fast path (steady state): one append, the done marker IS its commit
        ret = table.append(
            _shape_versions(table, data, lsn_col, op_col),
            commit={"run_id": run_id, "epoch": epoch, "seq": 0},
        )
        total = int(ret["rows"])
        lineage = _file_lineage(ret)
    else:
        resumed = False
        for seq, pred in enumerate(ddl_ranges(schema_events, lsn_col), 1):
            if not table.has_commit(run_id, epoch, seq):
                ret = table.append(
                    _shape_versions(table, data.filter(pred), lsn_col, op_col),
                    commit={"run_id": run_id, "epoch": epoch, "seq": seq},
                )
                total += int(ret["rows"])
                lineage += _file_lineage(ret)
            else:
                # crash-resume: the sub-unit's data is already committed, so
                # recover its per-file lineage from the snapshot diff instead
                # of dropping it — the epoch's lineage record (and its rows
                # metric) must cover the WHOLE epoch, replayed or not
                rec, rows = _recover_sub_lineage(table, run_id, epoch, seq)
                total += rows
                lineage += rec
                resumed = True
            if seq <= len(schema_events):
                s_lsn, change = schema_events[seq - 1]
                table.update_schema(change, schema_lsn=s_lsn)
        table.add_commit({"run_id": run_id, "epoch": epoch, "seq": 0})
    dur = max(time.time() - t0, 1e-9)
    # per-file lineage (bucket + LSN range + rows, straight from footer
    # stats — zero extra jobs) + epoch metrics: the same resume/audit trail
    # the merge path writes, so a history sink is replay-inspectable too
    extra = {"rows": total, "duration_sec": dur, "events_per_sec": total / dur}
    if schema_events and resumed:
        extra["resumed"] = True  # part of this epoch's lineage was recovered
    _write_lineage(table, run_id, epoch, 0, lineage, extra)
    return {
        "skipped": False,
        "run_id": run_id,
        "epoch": epoch,
        "rows_appended": total,
        "duration_sec": dur,
    }


def _recover_sub_lineage(
    table: LakeTable, run_id: str, epoch: int, seq: int
) -> tuple[list[dict], int]:
    """Rebuild a committed-then-skipped sub-unit's per-file lineage from the
    table's snapshot history: find the snapshot that FIRST carries the
    (run, epoch, seq) manifest and diff its file list against the previous
    snapshot's — the added files ARE the sub-unit's writes (footer stats
    included). Resume-only path. A root's exactly-once index is
    CUMULATIVE (every write extends the prior root's), so carrier-ship is
    monotone in the version and the first carrier binary-searches in
    O(log V) root reads, each a range check on the root's index — a linear
    walk from version 1 would re-parse ~every root of a long-lived store
    (10^5+ versions) once per resumed sub-unit."""

    def has(v: int) -> bool:
        return table.snapshot_at(v).has_commit(run_id, epoch, seq)

    cur = table.current_version()
    if cur < 1 or not has(cur):
        return [], 0
    lo, hi = 1, cur  # invariant: has(hi) is True, has(lo - 1) is False
    while lo < hi:
        mid = (lo + hi) // 2
        if has(mid):
            hi = mid
        else:
            lo = mid + 1
    snap = table.snapshot_at(lo)
    added = snap.added_since(table.snapshot_at(lo - 1)) if lo > 1 else snap.files()
    lineage = [
        {"bucket": f["bucket"], "rows": f["rows"],
         "lsn_min": f.get("lsn_min"), "lsn_max": f.get("lsn_max")}
        for f in added
    ]
    return lineage, sum(f["rows"] for f in added)


def _file_lineage(append_ret: dict) -> list[dict]:
    return [
        {"bucket": e["bucket"], "rows": e["rows"],
         "lsn_min": e.get("lsn_min"), "lsn_max": e.get("lsn_max")}
        for e in append_ret.get("entries", [])
    ]


def _shape_versions(
    table: LakeTable, data: DataFrame, lsn_col: str, op_col: str
) -> DataFrame:
    """Shape data events into version rows under the store's CURRENT
    schema (re-read per call — DDL sub-units see the post-DDL schema)."""
    from embulk_filter_copy_spark.lake.schema import spark_type

    keys = [c for c in table.key_columns if c != _VER_LSN]
    attr_fields = [
        f for f in table.schema.fields if f.name not in (_VER_LSN, _VER_OP)
    ]
    attr_names = {f.name for f in attr_fields}
    # only columns the store knows ride the shuffle struct — stream-envelope
    # extras (ts, schema_change) stay out of the payload
    payload = [c for c in data.columns if c in attr_names and c not in keys]
    is_del = F.col(op_col) == F.lit("D")
    # ONE shuffle over the BATCH: per-(key, lsn) LWW collapse of transport
    # duplicates + the op marker, never touching the table.
    # Tie-break contract: a (key, LSN) group exists because an at-least-once
    # transport RE-SENT the identical event, so all rows in it carry the
    # same op and image and both aggregates below are order-independent. A
    # contract-violating duplicate (same LSN, DIFFERENT op or image) is
    # resolved arbitrarily — max() keeps 'U' over 'D' and max_by on the
    # constant LSN keeps an arbitrary image; detecting that corruption is a
    # log-integrity concern upstream of the store (it would need a
    # count_distinct per group on the hot path to surface here).
    versions = data.groupBy(*keys, F.col(lsn_col).alias(_VER_LSN)).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), F.col(lsn_col)).alias("_w"),
        F.max(F.when(is_del, F.lit("D")).otherwise(F.lit("U"))).alias(_VER_OP),
    )
    out_cols = []
    for f in attr_fields:
        if f.name in keys:
            out_cols.append(F.col(f.name))
        elif f.name in payload:
            # delete markers carry no attribute image
            out_cols.append(
                F.when(F.col(_VER_OP) == "D", F.lit(None))
                .otherwise(F.col(f"_w.{f.name}"))
                .alias(f.name)
            )
        else:
            # column unknown to this batch (added via schema evolution)
            out_cols.append(F.lit(None).cast(spark_type(f.type)).alias(f.name))
    out = versions.select(*out_cols, F.col(_VER_LSN), F.col(_VER_OP))
    # carry the LSN into the file meta column: footer min/max then powers
    # per-file LSN-range pruning in read_changes/high_lsn, same as the sink
    return out.withColumn("_lsn", F.col(_VER_LSN))


def read_history(table: LakeTable, version: int | None = None) -> DataFrame:
    """The SCD2 view over the version store: per-key ``lead()`` derives
    ``valid_to_lsn``, delete markers close without emitting. One window
    shuffle — the same cost the batch operator pays, deferred to read;
    a consumer that reads the history often should materialize this view
    with the lake writer and refresh it from `read_changes`.

    Robust to CROSS-epoch duplicate re-delivery: the per-batch dedup in
    `apply_history_batch` cannot see a (key, LSN) an at-least-once
    transport re-sends in a later epoch (two identical version rows land in
    the store), so the view drops rows whose LSN equals their predecessor's
    inside the SAME (key, LSN-ordered) window the interval derivation
    already sorts — a lag() that costs no extra shuffle, only a second
    window function over the existing sort."""
    keys = [c for c in table.key_columns if c != _VER_LSN]
    raw = table.read(version=version)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(_VER_LSN).asc()
    )
    raw = raw.withColumn("_prev_lsn", F.lag(F.col(_VER_LSN)).over(w)).filter(
        F.col("_prev_lsn").isNull() | (F.col("_prev_lsn") != F.col(_VER_LSN))
    ).drop("_prev_lsn")
    return scd2_history(raw, keys, lsn_col=_VER_LSN, op_col=_VER_OP, delete_op="D")


# ---------------------------------------------------------------------------
# Materialized history view — read-optimized SCD2 with incremental refresh
#
# `read_history` pays one per-key window per read. A consumer that queries
# the history constantly (point-in-time joins, audit dashboards) should
# materialize the view: a second LakeTable with `valid_to_lsn`/`is_current`
# BAKED into the rows, refreshed incrementally. The refresh exploits the
# store's bucket spec: version stores bucket by the key alone, so every
# version of a changed key lives in ONE bucket of the store AND maps to one
# bucket of the view (same bucket columns, same bucket count). A refresh
#   1. diffs store snapshots (`read_changes` manifest diff) → changed keys,
#   2. prunes BOTH tables to the affected buckets only,
#   3. recomputes the window for changed keys, keeps untouched keys' rows
#      verbatim (anti-join), and swaps just those buckets.
# Cost ∝ (affected buckets + changed keys), independent of table size — at
# 10^10 versions a refresh touching 100 repos rewrites a handful of
# buckets, not the table.
# ---------------------------------------------------------------------------


def materialize_history(
    store: LakeTable, dest_path: str, run_id: str = "mat"
) -> LakeTable:
    """Initial build of the materialized SCD2 view (schema = attrs +
    interval columns; same key/bucket spec as the store)."""
    keys = [c for c in store.key_columns if c != _VER_LSN]
    attr_pairs = [
        (f.name, f.type)
        for f in store.schema.fields
        if f.name not in (_VER_LSN, _VER_OP)
    ]
    schema = TableSchema.from_pairs(
        attr_pairs
        + [(_VER_LSN, "long"), ("valid_to_lsn", "long"), ("is_current", "boolean")]
    )
    dest = LakeTable.create(
        store.spark,
        dest_path,
        schema,
        key_columns=keys + [_VER_LSN],
        n_buckets=store.n_buckets,
        bucket_columns=keys,
    )
    store_v = store.current_version()
    view = read_history(store, version=store_v)
    dest.append(
        view.withColumn("_lsn", F.col(_VER_LSN)),
        commit={"run_id": run_id, "epoch": 0, "store_version": store_v},
    )
    return dest


def materialized_store_version(dest: LakeTable) -> int:
    """Store snapshot version the view last caught up to."""
    v = dest.source_version()
    if v is None:
        raise ValueError("not a materialized history view (no store_version commits)")
    return v


def refresh_history(store: LakeTable, dest: LakeTable, run_id: str = "mat") -> dict:
    """Incremental refresh: recompute version chains ONLY for keys changed
    in the store since the last refresh, via bucket-pruned partial rewrite.
    Idempotent — a refresh at an already-materialized store version no-ops.
    """
    keys = [c for c in store.key_columns if c != _VER_LSN]
    if dest.bucket_columns != keys or dest.n_buckets != store.n_buckets:
        raise ValueError(
            "view bucket spec must mirror the store's (same bucket columns "
            "and count) — the pruned partial rewrite depends on aligned buckets"
        )
    since = materialized_store_version(dest)
    cur = store.current_version()
    if cur <= since:
        return {"skipped": True, "store_version": since}
    t0 = time.time()
    # follow the store's schema evolution: DDL the store applied since the
    # last refresh must be mirrored into the view, or the refresh either
    # loses post-DDL data (add), crashes selecting a stale name (rename),
    # or casts widened values back down in replace_buckets (widen). The
    # diff is taken BY FIELD ID between the store schema the view last saw
    # (snapshot `since`) and its current one — field ids are stable across
    # rename/widen, so each kind of change maps to exactly one mirrored
    # action on the view's matching (old-named) field.
    old_sv = store.snapshot_at(since)["schema_version"]
    old_by_id = {f.id: f for f in store.schema_at(old_sv).fields}
    for sf in store.schema.fields:
        if sf.name == _VER_OP:
            continue
        dest_names = {f.name for f in dest.schema.fields}
        of = old_by_id.get(sf.id)
        if of is None:
            if sf.name not in dest_names:
                dest.update_schema(
                    {"action": "add", "column": sf.name, "type": sf.type},
                    schema_lsn=dest.schema_lsn + 1,
                )
            continue
        if of.name != sf.name and sf.name not in dest_names:
            # (a crash between a prior refresh's DDL mirror and its commit
            # leaves the rename already applied — skip, don't re-raise)
            if of.name not in dest_names:
                raise ValueError(
                    f"materialized view diverged from store: store renamed "
                    f"{of.name!r} -> {sf.name!r} but the view has neither"
                )
            dest.update_schema(
                {"action": "rename", "from": of.name, "to": sf.name},
                schema_lsn=dest.schema_lsn + 1,
            )
        if of.type != sf.type and dest.schema.field(sf.name).type != sf.type:
            dest.update_schema(
                {"action": "widen", "column": sf.name, "to": sf.type},
                schema_lsn=dest.schema_lsn + 1,
            )
    # drops: a field the view last saw that the store no longer carries.
    # Without the mirror the refreshed buckets would null-fill the stale
    # column while untouched buckets keep old values — a half-dropped view.
    cur_ids = {f.id for f in store.schema.fields}
    dest_names = {f.name for f in dest.schema.fields}
    for fid, of in old_by_id.items():
        if fid not in cur_ids and of.name in dest_names:
            dest.update_schema(
                {"action": "drop", "column": of.name},
                schema_lsn=dest.schema_lsn + 1,
            )
    changed = (
        store.read_changes(since_version=since).select(*keys).distinct()
    ).localCheckpoint()  # small (changed keys only); 3 consumers below
    buckets = sorted(
        r["_b"]
        for r in changed.select(dest.bucket_expr().alias("_b")).distinct().collect()
    )
    if not buckets:
        dest.add_commit({"run_id": run_id, "epoch": cur, "store_version": cur})
        return {"skipped": False, "store_version": cur, "buckets": [], "rows": 0}
    # recompute chains for changed keys from the PRUNED store scan —
    # bucket_columns guarantees every version of a changed key is in there
    recomputed = (
        _dedup_versions(store.read(version=cur, buckets=buckets), keys)
        .join(F.broadcast(changed), keys, "left_semi")
    )
    fresh = scd2_history(recomputed, keys, lsn_col=_VER_LSN, op_col=_VER_OP)
    fresh = fresh.select(*[f.name for f in dest.schema.fields])
    untouched = dest.read(buckets=buckets).join(
        F.broadcast(changed), keys, "left_anti"
    )
    out = untouched.unionByName(fresh).withColumn("_lsn", F.col(_VER_LSN))
    res = dest.replace_buckets(
        buckets, out, commit={"run_id": run_id, "epoch": cur, "store_version": cur}
    )
    return {
        "skipped": False,
        "store_version": cur,
        "buckets": buckets,
        "rows": int(res["rows"]),
        "duration_sec": time.time() - t0,
    }


def _dedup_versions(raw: DataFrame, keys: list[str]) -> DataFrame:
    """The same cross-epoch duplicate guard `read_history` applies, shared
    by the refresh path (which windows over a pruned scan instead)."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(_VER_LSN).asc())
    return (
        raw.withColumn("_prev_lsn", F.lag(F.col(_VER_LSN)).over(w))
        .filter(
            F.col("_prev_lsn").isNull() | (F.col("_prev_lsn") != F.col(_VER_LSN))
        )
        .drop("_prev_lsn")
    )
