"""Batch applier: LWW dedup → schema-change sequencing → bucketed MERGE →
atomic commit manifest + per-partition lineage.

This is the engine's analogue of the reference's staged transaction
(BreakinBulkLoader.scala:116-142 runInput→runFilters→runExecutor→runOutput→
execute): each microbatch epoch runs ONE unit loop
    pre-pass → [quarantine split] → unit (dedup → merge) [→ DDL → unit]*
with every unit individually idempotent under its own (run, epoch, seq)
commit, so a crash anywhere inside an epoch resumes without duplicating
work — the distributed, durable version of the reference's committed-task
skip (ReuseInputExecutorPlugin.scala:61-64). An epoch without schema changes
is the one-unit case: its single commit is the ``seq=-1`` epoch-done marker.
A separate marker follows when the epoch applied a DDL, or quarantined rows
and merged none; an empty epoch commits nothing. Budget: one pre-pass job plus each
unit's merge, and one shared stats job when the epoch has several units or
quarantined rows (see :func:`apply_batch`).

MERGE strategy (copy-on-write, Iceberg-style):
  * the deduped batch is bucketed by pmod(xxhash64(repo, path), n_buckets);
  * only buckets PRESENT in the batch are read back from the target
    (manifest-level file pruning — at 100 TB a small batch touches a tiny
    fraction of files);
  * a full-outer join per key decides each row: source wins iff
    ``s.lsn >= t._lsn`` (the LSN guard — defense-in-depth idempotence:
    re-applying an epoch rewrites identical rows);
  * deletes become tombstones (``_deleted=true``) so a late lower-LSN insert
    can never resurrect a deleted row across out-of-order batches;
  * the join is co-partitioned: both sides are hash-distributed by the same
    bucket function, and AQE splits residual skew.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc.dedup import dedup_events
from embulk_filter_copy_spark.lake.schema import spark_type
from embulk_filter_copy_spark.lake.table import LakeTable

EPOCH_DONE_SEQ = -1


def quarantine_dir(qpath: str, run_id: str, epoch: int, sink_id: str) -> str:
    """Deterministic per-(run, epoch, sink) partition directory under the
    shared quarantine root. ``qpart=`` naming makes the root readable as one
    partitioned parquet dataset (:func:`read_quarantine`)."""
    return os.path.join(qpath, f"qpart={run_id}-e{epoch}-{sink_id}")


def write_quarantine(
    late: DataFrame, qpath: str, run_id: str, epoch: int, sink_id: str
) -> None:
    """Write late rows to their own deterministic directory with OVERWRITE:

    * idempotent on epoch replay — a crash between the quarantine write and
      the epoch commit re-runs into the SAME directory instead of appending
      duplicates;
    * safe for concurrent writers in SEPARATE PROCESSES — each (sink, epoch)
      owns its directory, so no two Spark jobs ever share a ``_temporary/``
      staging dir. (The previous shared-append design serialized appends
      with an in-process lock, which a second driver process could not see.)
    """
    late.write.mode("overwrite").parquet(quarantine_dir(qpath, run_id, epoch, sink_id))


def read_quarantine(spark, qpath: str) -> DataFrame:
    """All quarantined rows across runs/epochs/sinks. ``recursiveFileLookup``
    reads the data files at ANY directory depth — the current ``qpart=``
    layout, a pre-upgrade flat-append layout, or a mix of both (partition
    discovery would raise 'conflicting directory structures' on the mix);
    it disables partition-column inference, so the synthetic ``qpart``
    column never materializes (the drop is a compatibility no-op).

    An empty or missing quarantine root (a healthy pipeline, or one whose
    compactions all folded away) returns an empty zero-column frame instead
    of failing schema inference — inspection and redrive on a clean stream
    must be a no-op, not a crash."""
    has_files = os.path.isdir(qpath) and any(
        f.endswith(".parquet") for _, _, files in os.walk(qpath) for f in files
    )
    if not has_files:
        from pyspark.sql import types as T

        return spark.createDataFrame([], T.StructType([]))
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(qpath).drop("qpart")
    )


def compact_quarantine(
    spark, qpath: str, keep_recent: int = 2, protect_age: float | None = None
) -> dict:
    """Fold accumulated per-(run, epoch, sink) quarantine directories into
    one compacted directory — the small-file GC for the quarantine root.

    Every epoch writes its late rows into its own ``qpart=`` dir (that
    isolation is what makes the write idempotent and multi-process-safe),
    so at 10^5 epochs the root is a directory bomb: one dir + one tiny
    file per (run, epoch, sink). This folds all but the ``keep_recent``
    most-recent (run, epoch) GROUPS *per run* (those may still be replayed
    into by an in-flight or crash-resumed epoch) into a single
    ``qcompact=`` dir with one file per shuffle partition.

    The keep-recent unit is the (run_id, epoch) group, not the directory:
    one epoch fanning out to N sinks writes N qpart dirs with near-equal
    mtimes, and folding ANY of them while the epoch is in flight would let
    the resume re-create a dir the compaction already swallowed (its rows
    would then be read twice forever once the ``_SRC`` trim forgot it).
    Grouping per run is the durable in-flight signal available without the
    sink tables: a replay cannot advance past an uncommitted epoch, so only
    a run's most recent epoch(s) can ever be re-written. Dirs whose name
    predates the group format fall back to per-dir recency.

    Idempotent under crash-resume: the target name is a DIGEST of the
    TRANSITIVE original-source set — each ``qcompact=`` dir records the
    ``qpart=`` names it covers in a ``_SRC`` manifest (underscore-prefixed,
    so every Spark reader treats it as hidden), and folding a prior
    compacted dir unions its manifest instead of hashing its own name. A
    re-run after a crash between the atomic rename and the source deletes
    therefore recomputes the SAME target name (the leftover sources are a
    subset of what the new dir already covers), finds it present, skips
    the write, and only sweeps the leftovers — rows are never duplicated.
    (Hashing the literal dir listing — the naive digest — breaks exactly
    there: the crashed run's own output joins the listing and yields a
    fresh digest that re-folds everything, doubling every row.) Until the
    re-run sweeps them, a reader sees the subsumed sources twice; the
    compaction heals, it does not widen, that pre-existing crash window.
    ``read_quarantine`` reads pre-compaction, post-compaction and mixed
    layouts identically (recursive file lookup).
    """
    import hashlib
    import shutil

    def covered(entry: str) -> set[str]:
        # a compacted dir's identity is the qpart set it folded; legacy
        # dirs without a manifest fall back to their own name
        src_file = os.path.join(qpath, entry, "_SRC")
        if os.path.exists(src_file):
            with open(src_file) as fh:
                return set(fh.read().split())
        return {entry}

    import re

    def group(entry: str):
        # (run_id, epoch) of the dir, or the dir itself for legacy names
        m = re.match(r"qpart=(.+)-e(-?\d+)-[^-]+$", entry)
        return (m.group(1), int(m.group(2))) if m else (entry, None)

    qparts = sorted(
        e for e in os.listdir(qpath)
        if e.startswith("qpart=") and os.path.isdir(os.path.join(qpath, e))
    )
    if keep_recent > 0:
        groups: dict = {}
        for e in qparts:
            groups.setdefault(group(e), []).append(e)
        g_mtime = {
            g: max(os.path.getmtime(os.path.join(qpath, e)) for e in es)
            for g, es in groups.items()
        }
        protected: set = set()
        by_run: dict = {}
        for g in groups:
            by_run.setdefault(g[0], []).append(g)
        for gs in by_run.values():
            gs.sort(key=lambda g: g_mtime[g])
            protected.update(gs[-keep_recent:])
        if protect_age is not None:
            # operator knob for long-finished runs: a protected group older
            # than this (seconds since last write) is folded anyway —
            # without it, every finished run parks keep_recent dirs in the
            # root forever. Choose it >> the longest plausible crash-resume
            # lag: a resume later than that re-creates a folded qpart dir,
            # whose rows the next fold would double permanently (hence the
            # conservative default of None = protect indefinitely).
            now = time.time()
            protected = {g for g in protected if now - g_mtime[g] < protect_age}
        qparts = [e for e in qparts if group(e) not in protected]
    # prior compacted dirs fold in too, so repeated compactions keep the
    # root at ONE compacted dir instead of one per compaction run
    old = [
        e for e in os.listdir(qpath)
        if e.startswith("qcompact=") and os.path.isdir(os.path.join(qpath, e))
    ]
    entries = sorted(qparts + old)
    if not qparts:  # nothing new to fold — don't rewrite the compacted dir
        return {"dirs_compacted": 0, "rows": 0, "out": None}
    cov_map = {e: covered(e) for e in old}
    transitive: set[str] = set(qparts)
    for s in cov_map.values():
        transitive |= s
    # an entry whose NAME appears in another compacted dir's manifest is a
    # crash leftover whose rows that dir already holds — it must be swept
    # but NEVER re-read, or its rows double the moment NEW qparts arrive
    # and shift the digest (the naive fix of hashing transitively but
    # reading everything re-introduced exactly that)
    covered_elsewhere: set[str] = set()
    for e, s in cov_map.items():
        covered_elsewhere |= s - {e}
    digest = hashlib.sha1("\n".join(sorted(transitive)).encode()).hexdigest()[:12]
    out = os.path.join(qpath, f"qcompact={digest}")
    rows = 0
    if not os.path.exists(out):
        src = [
            os.path.join(qpath, e) for e in entries if e not in covered_elsewhere
        ]
        df = (
            spark.read.option("recursiveFileLookup", "true")
            .option("mergeSchema", "true")
            .parquet(*src)
        )
        tmp = os.path.join(qpath, f".tmp-qcompact-{digest}")
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_SRC"), "w") as fh:
            fh.write("\n".join(sorted(transitive)))
        os.rename(tmp, out)
        rows = spark.read.parquet(out).count()
    swept = 0
    for e in entries:
        if os.path.join(qpath, e) != out:
            shutil.rmtree(os.path.join(qpath, e), ignore_errors=True)
            swept += 1
    # sweep complete: trim the manifest to the dir's own identity plus any
    # covered name STILL PRESENT in the root (a failed sweep, or an
    # in-flight epoch re-creating its dir between fold and trim) —
    # retaining those keeps their re-created rows excluded from future
    # folds (covered_elsewhere) instead of double-counting them. Names
    # confirmed absent drop, so _SRC doesn't accumulate one line per qpart
    # EVER folded (10^5-epoch roots would rewrite and re-hash a multi-MB
    # manifest per run). A crash before the trim leaves the fat manifest,
    # which is only ever over-inclusive, never wrong.
    still_present = transitive & set(os.listdir(qpath))
    trim = os.path.join(qpath, ".tmp-src")
    with open(trim, "w") as fh:
        fh.write("\n".join(sorted({os.path.basename(out)} | still_present)))
    os.replace(trim, os.path.join(out, "_SRC"))
    return {"dirs_compacted": swept, "rows": rows, "out": out}


def _sink_id(table: LakeTable) -> str:
    import hashlib

    return hashlib.sha1(table.path.encode()).hexdigest()[:8]


def _ts_epoch(col: str = "ts") -> F.Column:
    """Event time as epoch seconds, computed JVM-side. The double cast goes
    through TIMESTAMP because TIMESTAMP_NTZ (what plain parquet event logs
    read back as) cannot cast to double directly; the session timezone is
    pinned to UTC (session.py), so the NTZ→TZ interpretation is stable."""
    return F.col(col).cast("timestamp").cast("double")


def _stats_aggs(lsn_col: str, keep: Column | None = None) -> list[Column]:
    """Aggregates for one group of rows (rows where ``keep`` holds, or all
    rows): LSN range, row count, the ``_bucket`` values touched, max event
    time."""

    def w(c: Column) -> Column:
        return c if keep is None else F.when(keep, c)

    return [
        F.min(w(F.col(lsn_col))).alias("lsn_min"),
        F.max(w(F.col(lsn_col))).alias("lsn_max"),
        F.count(w(F.lit(1))).alias("rows"),
        F.collect_set(w(F.col("_bucket"))).alias("buckets"),
        # epoch seconds computed IN the aggregation: collecting a timestamp
        # yields a naive datetime in the session tz whose .timestamp() the
        # OS tz would reinterpret — skewing the quarantine high-water mark
        # by the tz delta
        F.max(w(_ts_epoch())).alias("ts_max"),
    ]


def _summary(rows: list) -> dict:
    """Fold per-source-partition aggregate rows (``_stats_aggs`` plus
    ``_pid``) into one unit's totals and its per-partition lineage."""
    rows = [r for r in rows if r["rows"]]

    def ext(agg, col):
        return agg((r[col] for r in rows if r[col] is not None), default=None)

    return {
        "rows": sum(r["rows"] for r in rows),
        "lsn_min": ext(min, "lsn_min"),
        "lsn_max": ext(max, "lsn_max"),
        "ts_max": ext(max, "ts_max"),
        "buckets": sorted({b for r in rows for b in r["buckets"]}),
        "lineage": [
            {"partition_id": r["_pid"], "lsn_min": r["lsn_min"],
             "lsn_max": r["lsn_max"], "rows": r["rows"]}
            for r in rows
        ],
    }


def ddl_ranges(schema_events: list[tuple], lsn_col: str = "lsn") -> list[Column]:
    """Predicates for the data ranges that sorted ``(lsn, change)`` schema
    events cut a batch into: n events give n + 1 ranges, event i sitting
    between range i and range i + 1. Both ends are exclusive, so a row at an
    event's own LSN falls in no range."""
    lsn = F.col(lsn_col)
    edges = [None, *(l for l, _ in schema_events), None]
    return [
        (F.lit(True) if lo is None else lsn > lo) & (F.lit(True) if hi is None else lsn < hi)
        for lo, hi in zip(edges, edges[1:])
    ]


def build_merge(
    table: LakeTable,
    deduped: DataFrame,
    buckets: list[int],
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """The copy-on-write MERGE plan (unexecuted): bucket-pruned target scan
    full-outer-joined with the per-key-unique batch, source winning iff
    ``lsn >= _lsn``. Exposed separately so tests can assert the physical
    plan (equi-join, no nested-loop) without writing."""
    keys = table.key_columns
    t = table.read(include_meta=True, buckets=buckets).alias("t")
    s = deduped.alias("s")
    cond = [t[k].eqNullSafe(s[k]) for k in keys]
    j = t.join(s, cond, "full_outer")

    reserved = {lsn_col, op_col, "ts", "schema_change", "_img_lsn", "_del_lsn"}
    src_cols = {
        c for c in deduped.columns
        if c not in reserved and not c.startswith("_pl_")
    }

    if "_img_lsn" in deduped.columns and "_del_lsn" in deduped.columns:
        return _merge_with_patch_info(
            table, deduped, j, t, s, keys, src_cols, lsn_col
        )

    src_wins = s[lsn_col].isNotNull() & (
        t["_lsn"].isNull() | (s[lsn_col] >= t["_lsn"])
    )
    # a patch-only source row (op='P' survives `dedup.fold_patches` when the
    # batch held no full image for the key) resolves per COLUMN against the
    # target: non-null patch columns override, nulls keep the target value —
    # and a patch can neither create a key nor resurrect a deleted one
    is_patch = s[op_col] == F.lit("P")

    out_cols = []
    for f in table.schema.fields:
        if f.name in keys:
            out_cols.append(F.coalesce(s[f.name], t[f.name]).alias(f.name))
        elif f.name in src_cols:
            out_cols.append(
                F.when(src_wins & is_patch, F.coalesce(s[f.name], t[f.name]))
                .when(src_wins, s[f.name])
                .otherwise(t[f.name])
                .alias(f.name)
            )
        else:
            # column unknown to the CDC envelope (added via schema evolution):
            # full-row-image update semantics → NULL when the source wins;
            # a patch leaves it untouched
            out_cols.append(
                F.when(src_wins & ~is_patch, F.lit(None).cast(spark_type(f.type)))
                .otherwise(t[f.name])
                .alias(f.name)
            )
    out_cols.append(F.when(src_wins, s[lsn_col]).otherwise(t["_lsn"]).alias("_lsn"))
    out_cols.append(
        F.when(src_wins & is_patch, F.coalesce(t["_deleted"], F.lit(True)))
        .when(src_wins, s[op_col] == F.lit("D"))
        .otherwise(F.coalesce(t["_deleted"], F.lit(False)))
        .alias("_deleted")
    )
    return j.select(*out_cols)


def _merge_with_patch_info(table, deduped, j, t, s, keys, src_cols, lsn_col):
    """Patch-mode merge with PER-PIECE LSN guards (the fold ran with
    ``emit_merge_info=True``). The folded row carries each piece's LSN —
    latest full image ``_img_lsn``, latest delete ``_del_lsn``, latest patch
    per column ``_pl_<col>`` — and each piece resolves against the target
    row's ``_lsn`` independently. This closes the cross-epoch stale-duplicate
    hole: a duplicate patch/full-image/delete re-delivered in ANY later epoch
    compares ≤ the target's LSN and loses per piece, while fresh pieces in
    the same batch still apply. Semantics per key, cut = target ``_lsn``:

      * img newer than (delete, cut)  → the folded image is the row
        (patches after the image already folded in);
      * delete newer than (img, cut)  → tombstone at the delete's LSN;
      * both stale (≤ cut)            → base is the TARGET; each patch with
        ``_pl_<c> > cut`` applies to a live target per column, and ``_lsn``
        advances only by APPLIED patch LSNs (a skipped patch on a tombstone
        must not block a later revive);
      * patch on an absent key        → tombstone (cannot create), at the
        patch LSN so lower-LSN stragglers cannot materialize it either.
    """
    fl, dl, cut = s["_img_lsn"], s["_del_lsn"], t["_lsn"]

    def _gt(a, b):  # a > b, null b = -inf, null a = never
        return a.isNotNull() & (b.isNull() | (a > b))

    live_new = _gt(fl, dl) & _gt(fl, cut)
    tomb_new = dl.isNotNull() & ~_gt(fl, dl) & _gt(dl, cut)
    target_live = cut.isNotNull() & ~F.coalesce(t["_deleted"], F.lit(False))

    def _patch_applies(c: str):
        pl_name = f"_pl_{c}"
        if pl_name not in deduped.columns:
            return F.lit(False)
        pl = s[pl_name]
        return pl.isNotNull() & F.when(live_new, pl > fl).otherwise(
            ~tomb_new & target_live & (pl > cut)
        )

    applied_pls = [
        F.when(_patch_applies(c), s[f"_pl_{c}"])
        for c in src_cols
        if f"_pl_{c}" in deduped.columns
    ]
    applied_any = None
    for c in src_cols:
        pa = _patch_applies(c)
        applied_any = pa if applied_any is None else (applied_any | pa)
    if applied_any is None:
        applied_any = F.lit(False)

    out_cols = []
    for f in table.schema.fields:
        if f.name in keys:
            out_cols.append(F.coalesce(s[f.name], t[f.name]).alias(f.name))
        elif f.name in src_cols:
            out_cols.append(
                F.when(live_new | tomb_new, s[f.name])
                .when(_patch_applies(f.name), s[f.name])
                .otherwise(t[f.name])
                .alias(f.name)
            )
        else:
            # schema-evolved column unknown to the envelope: a fresh full
            # image NULLs it (full-row-image semantics); patches/tombstones
            # leave it to the target
            out_cols.append(
                F.when(live_new, F.lit(None).cast(spark_type(f.type)))
                .otherwise(t[f.name])
                .alias(f.name)
            )
    lsn_out = F.when(live_new | tomb_new, s[lsn_col])
    if applied_pls:
        lsn_out = lsn_out.when(applied_any, F.greatest(*applied_pls))
    out_cols.append(
        lsn_out.when(cut.isNull(), s[lsn_col]).otherwise(cut).alias("_lsn")
    )
    out_cols.append(
        F.when(live_new, F.lit(False))
        .when(tomb_new, F.lit(True))
        .when(applied_any, F.lit(False))
        .when(cut.isNull(), F.lit(True))
        .otherwise(F.coalesce(t["_deleted"], F.lit(False)))
        .alias("_deleted")
    )
    return j.select(*out_cols)


def merge_into(
    table: LakeTable,
    deduped: DataFrame,
    commit: dict,
    buckets: list[int],
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> dict:
    """Apply a per-key-unique batch of I/U/D row images to the table.

    ``deduped`` must hold at most one row per key (post-LWW). Update
    semantics are full-row-image: table columns absent from the event
    envelope become NULL when the source wins (matches the oracle replayer).
    """
    merged = build_merge(table, deduped, buckets, lsn_col=lsn_col, op_col=op_col)
    return table.replace_buckets(buckets, merged, commit=commit)


def append_delta_batch(
    table: LakeTable,
    deduped: DataFrame,
    commit: dict,
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> dict:
    """Merge-on-read apply: shape the per-key-unique batch into delta rows
    (upserts carry the row image; deletes become tombstones) and append —
    no target read, no join, O(batch) work per epoch."""
    keys = table.key_columns
    reserved = {lsn_col, op_col, "ts", "schema_change"}
    src_cols = {c for c in deduped.columns if c not in reserved}
    is_del = F.col(op_col) == F.lit("D")
    out_cols = []
    for f in table.schema.fields:
        if f.name in keys:
            out_cols.append(F.col(f.name))
        elif f.name in src_cols:
            out_cols.append(F.when(is_del, F.lit(None)).otherwise(F.col(f.name)).alias(f.name))
        else:
            out_cols.append(F.lit(None).cast(spark_type(f.type)).alias(f.name))
    out_cols.append(F.col(lsn_col).alias("_lsn"))
    out_cols.append(is_del.alias("_deleted"))
    return table.append_delta(deduped.select(*out_cols), commit=commit)


def _write_lineage(table: LakeTable, run_id: str, epoch: int, seq: int, lineage: list[dict], extra: dict) -> None:
    d = os.path.join(table.path, "_lineage")
    os.makedirs(d, exist_ok=True)
    payload = {"run_id": run_id, "epoch": epoch, "seq": seq, "partitions": lineage, **extra}
    # deterministic name → idempotent overwrite on epoch replay
    tmp = os.path.join(d, f".tmp-{run_id}-{epoch}-{seq}.json")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.rename(tmp, os.path.join(d, f"run={run_id}-epoch={epoch}-seq={seq}.json"))


def read_lineage(table: LakeTable) -> list[dict]:
    d = os.path.join(table.path, "_lineage")
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json") and not name.startswith("."):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


def _split_late(
    table: LakeTable, data: DataFrame, ts_max: float | None,
    quarantine: tuple[str, int], run_id: str, epoch: int,
) -> tuple[DataFrame, int]:
    """Write the epoch's late rows to its quarantine directory and return
    the rest with the late-row count. The threshold advances with the
    stream-level high-water mark — the MAX event time ever committed to the
    table (carried in the commit manifests), not just this batch's max — so
    a batch consisting entirely of late events is fully quarantined instead
    of slipping through because it defines its own "now"."""
    qpath, delta = quarantine
    ref = max((v for v in (ts_max, table.high_ts()) if v is not None), default=None)
    if ref is None:
        return data, 0
    threshold = F.lit(ref - delta)
    late = data.filter(_ts_epoch() < threshold).persist()
    try:
        n = late.count()
        if not n:
            return data, 0
        write_quarantine(late, qpath, run_id, epoch, _sink_id(table))
    finally:
        late.unpersist()
    # NULL event time is 'unknown', not 'late': both the < and >= predicates
    # are NULL for it, so a bare >= filter would silently drop the row from
    # BOTH branches. Keep null-ts rows on the data side — LSN ordering (the
    # real merge key) still governs them
    return data.filter((_ts_epoch() >= threshold) | _ts_epoch().isNull()), n


def apply_batch(
    table: LakeTable,
    batch: DataFrame,
    run_id: str,
    epoch: int,
    dedup: str = "plain",
    n_salts: int = 16,
    lsn_col: str = "lsn",
    op_col: str = "op",
    quarantine: tuple[str, int] | None = None,
    merge_mode: str = "cow",
    exact_applied: bool = True,
) -> dict:
    """Apply one microbatch epoch to `table`, exactly once.

    ``exact_applied``: count post-dedup applied rows via ``observe()``
    (free — collected during the merge's own write job) into the lineage
    record and the result; the commit then records the pre-dedup row count.
    MUST be False when called from inside a streaming ``foreachBatch``: the
    JVM-side ``Observation.get`` never receives its listener event there
    and deadlocks the microbatch thread. Without it, each unit counts its
    distinct keys (one key-only job; content never moves).

    ``merge_mode``: 'cow' (copy-on-write — read+join+rewrite affected
    buckets; read-optimized) or 'mor' (merge-on-read — append delta files
    only; write-optimized, readers resolve LWW, compaction folds back).

    ``dedup='skip'``: caller guarantees the batch is already per-key unique
    (the fan-out splitter dedups ONCE and shares the result across sinks
    whose transforms are projection-only — dedup commutes with projections,
    saving N-1 LWW shuffles for N sinks). The raw row count is then the
    applied count, and no counting job runs.

    Units: S (schema-change) events split the batch at their LSNs into data
    units, and each DDL is applied BEFORE the unit that follows it in LSN
    order (SURVEY.md §7.4 — the subtlest correctness requirement). An epoch
    with no S rows is one unit whose commit is the ``seq=-1`` epoch-done
    marker itself; with k DDLs, data unit i commits under ``seq=2*i`` (its
    index in the alternating merge/DDL list) and a final ``seq=-1`` marker
    gates the epoch, so a resumed epoch skips its committed units. Every
    unit commit carries ``lsn_min``/``lsn_max``/``ts_max``, ``rows_source``
    (pre-dedup rows) and ``rows_applied``. The marker is written iff the
    epoch applied a DDL, merged rows or quarantined rows — an empty epoch
    commits nothing.

    Job budget: one fused pre-pass job over the raw batch (per-partition
    lineage, buckets, ``ts_max`` and the S rows), then per data unit its
    merge (plus the distinct-key count when ``exact_applied`` is False and
    ``dedup`` is not 'skip'). Only a multi-unit or quarantined epoch adds
    ONE stats job, computing every unit's per-partition stats at once.

    ``quarantine=(path, delta_seconds)``: events with ts older than
    max(batch ts_max, table high-water mark) - delta are written to a
    per-(run, epoch, sink) directory under the quarantine path
    (:func:`write_quarantine` — idempotent on replay, cross-process safe)
    and excluded from the merge, counted in the returned stats.
    """
    if dedup == "patch" and merge_mode != "cow":
        raise ValueError(
            "dedup='patch' requires merge_mode='cow': a partial-image patch "
            "resolves per column against the current target row at merge "
            "time, and MOR delta appends never read the target"
        )
    if table.has_commit(run_id, epoch, EPOCH_DONE_SEQ):
        return {"skipped": True, "run_id": run_id, "epoch": epoch}

    t0 = time.time()
    # ---- fused pre-pass: ONE job over the raw batch yields per-partition
    # lineage (source LSN range + rows), affected buckets, the late-data
    # threshold input, and any schema-change rows — instead of one job each.
    is_data = F.col(op_col) != "S"
    agg_cols = _stats_aggs(lsn_col, keep=is_data)
    has_schema_col = "schema_change" in batch.columns
    if has_schema_col:
        agg_cols.append(
            F.collect_list(
                F.when(~is_data, F.struct(F.col(lsn_col).alias("l"), F.col("schema_change").alias("p")))
            ).alias("s_rows")
        )
    prows = (
        batch.withColumn("_pid", F.spark_partition_id())
        .withColumn("_bucket", table.bucket_expr())
        .groupBy("_pid")
        .agg(*agg_cols)
        .collect()
    )
    schema_events = sorted(
        (s["l"], json.loads(s["p"]))
        for r in prows
        for s in (r["s_rows"] if has_schema_col else [])
    )
    data = batch.filter(is_data)
    pre = _summary(prows)
    quarantined = 0
    if quarantine is not None:
        data, quarantined = _split_late(table, data, pre["ts_max"], quarantine, run_id, epoch)

    ranges = ddl_ranges(schema_events, lsn_col)
    if len(ranges) == 1 and not quarantined:
        stats = [pre]
    else:
        # one job: every unit's per-partition stats over the rows it merges
        unit = F.when(ranges[0], 0)
        for i, pred in enumerate(ranges[1:], 1):
            unit = unit.when(pred, i)
        urows = (
            data.withColumn("_unit", unit)
            .withColumn("_pid", F.spark_partition_id())
            .withColumn("_bucket", table.bucket_expr())
            .groupBy("_unit", "_pid")
            .agg(*_stats_aggs(lsn_col))
            .collect()
        )
        stats = [_summary([r for r in urows if r["_unit"] == i]) for i in range(len(ranges))]

    total_rows = 0
    all_buckets: set[int] = set()
    for i, pred in enumerate(ranges):
        if i:
            s_lsn, change = schema_events[i - 1]
            table.update_schema(change, schema_lsn=s_lsn)
        seq = EPOCH_DONE_SEQ if len(ranges) == 1 else 2 * i
        st = stats[i]
        if not st["rows"] or table.has_commit(run_id, epoch, seq):
            continue
        sub = data.filter(pred)
        keys = tuple(table.key_columns)
        deduped = dedup_events(sub, dedup, keys=keys, lsn_col=lsn_col, n_salts=n_salts)
        obs = None
        if dedup == "skip":
            applied = st["rows"]
        elif exact_applied:
            obs = Observation()
            deduped = deduped.observe(obs, F.count(F.lit(1)).alias("applied"))
            applied = st["rows"]  # until the merge's write yields the exact count
        else:
            applied = sub.select(*keys).distinct().count()
        commit = {
            "run_id": run_id,
            "epoch": epoch,
            "seq": seq,
            "lsn_min": st["lsn_min"],
            "lsn_max": st["lsn_max"],
            "ts_max": st["ts_max"],
            "rows_source": st["rows"],
            "rows_applied": applied,
        }
        if merge_mode == "mor":
            append_delta_batch(table, deduped, commit, lsn_col=lsn_col, op_col=op_col)
        else:
            merge_into(table, deduped, commit, buckets=st["buckets"], lsn_col=lsn_col, op_col=op_col)
        if obs is not None:
            applied = int(obs.get["applied"])
        dur = max(time.time() - t0, 1e-9)
        _write_lineage(
            table, run_id, epoch, seq, st["lineage"],
            {"rows": applied, "duration_sec": dur, "events_per_sec": applied / dur},
        )
        total_rows += applied
        all_buckets.update(st["buckets"])

    # a multi-unit epoch, or a one-unit epoch whose rows were all
    # quarantined, needs its own marker: without it, an at-least-once
    # redelivery would re-run the DDLs' units or re-append the same late
    # rows to the quarantine path. A one-unit epoch that merged rows is
    # already gated by its unit commit; an empty epoch commits nothing.
    if schema_events or (quarantined and not stats[0]["rows"]):
        lows = [st["lsn_min"] for st in stats if st["lsn_min"] is not None]
        highs = [st["lsn_max"] for st in stats if st["lsn_max"] is not None]
        table.add_commit(
            {
                "run_id": run_id,
                "epoch": epoch,
                "seq": EPOCH_DONE_SEQ,
                "lsn_min": min(lows, default=None),
                "lsn_max": max(highs, default=None),
                "rows_applied": total_rows,
            }
        )
    return {
        "skipped": False,
        "run_id": run_id,
        "epoch": epoch,
        "rows_applied": total_rows,
        "buckets": sorted(all_buckets),
        "quarantined": quarantined,
        "duration_sec": time.time() - t0,
    }
