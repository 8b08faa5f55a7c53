"""spark-submit entry point.

Usage (cluster; --py-files ships the package, north_rule deployment shape):

    zip -r efc.zip embulk_filter_copy_spark
    spark-submit --py-files efc.zip -m ... embulk_filter_copy_spark/cli.py \
        bootstrap --table /lake/repo_files --snapshot /data/base.parquet \
        --keys repo,path --buckets 4096
    spark-submit --py-files efc.zip embulk_filter_copy_spark/cli.py \
        replay --events /wal --sink /lake/repo_files \
        --checkpoint /ckpt/run1 --follow

Local smoke:  python -m embulk_filter_copy_spark.cli replay --help
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from embulk_filter_copy_spark.session import get_spark

    return get_spark(app_name=f"efc-{args.cmd}", master=args.master)


def cmd_bootstrap(args) -> None:
    from pyspark.sql import functions as F

    from embulk_filter_copy_spark.lake.schema import TableSchema
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    snap = spark.read.parquet(args.snapshot)
    schema = TableSchema.from_struct(snap.schema)
    table = LakeTable.create(
        spark, args.table, schema, key_columns=args.keys.split(","), n_buckets=args.buckets
    )
    # the bootstrap COMMIT must carry the stamped lsn bounds (filled from
    # footer stats): read_changes prunes compaction-re-added rows against
    # high_lsn(), and an uncommitted _lsn=L bootstrap would leave the
    # watermark at 0 — every bucket rewrite would then re-emit the
    # unchanged bootstrap rows as spurious change events
    table.append(
        snap.withColumn("_lsn", F.lit(args.snapshot_lsn)),
        commit={"run_id": "__bootstrap__", "epoch": 0},
    )
    print(json.dumps({"table": args.table, "rows": table.row_count(),
                      "buckets": args.buckets, "snapshot_lsn": args.snapshot_lsn}))


def cmd_replay(args) -> None:
    from embulk_filter_copy_spark.cdc.replayer import replay_stream
    from embulk_filter_copy_spark.cdc.splitter import SinkSpec

    spark = _spark(args)
    if args.sink_spec:
        with open(args.sink_spec) as f:
            sinks = _parse_spec(json.load(f))
    else:
        sinks = [SinkSpec(name=f"sink{i}", path=p) for i, p in enumerate(args.sink)]
    results = replay_stream(
        spark,
        args.events,
        sinks,
        checkpoint=args.checkpoint,
        keys=tuple(args.keys.split(",")),
        watermark=args.watermark,
        max_files_per_trigger=args.max_files_per_trigger,
        dedup=args.dedup,
        n_salts=args.salts,
        quarantine=(args.quarantine, args.quarantine_delta) if args.quarantine else None,
        merge_mode=args.merge_mode,
        source_format=args.format,
        payload_wrapper=args.payload_wrapper,
        dead_letter=args.dead_letter,
        kafka_options=dict(kv.split("=", 1) for kv in args.kafka_option) or None,
        audit_sql=args.audit_sql,
    )
    print(json.dumps({"epochs": len(results), "rows_applied": sum(r.get("rows_applied", 0) for r in results)}))


def _parse_spec(d: dict):
    from embulk_filter_copy_spark.cdc.splitter import SinkSpec

    return SinkSpec(
        name=d["name"],
        path=d.get("path"),
        transforms=tuple(tuple(t) for t in d.get("transforms", [])),
        children=tuple(_parse_spec(c) for c in d.get("children", [])),
        mode=d.get("mode", "merge"),
    )


def cmd_changes(args) -> None:
    """Incremental change feed: net per-key U/D events since a snapshot
    version (the sink acting as a CDC source; chain into another replay)."""
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    feed = table.read_changes(args.since_version)
    if args.out:
        feed.write.mode("errorifexists").parquet(args.out)
        # count the WRITTEN parquet (footer metadata) — recomputing the feed
        # for a count would run the whole manifest-diff scan twice
        rows = spark.read.parquet(args.out).count()
        print(json.dumps({"since_version": args.since_version, "rows": rows, "out": args.out}))
    else:
        feed.show(args.limit, truncate=False)


def cmd_history(args) -> None:
    """SCD2 view over a version-store table (`cdc/history.py`): the full
    version history, or a point-in-time snapshot at --as-of-lsn."""
    from embulk_filter_copy_spark.cdc.history import read_history, snapshot_as_of
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    view = read_history(table)
    if args.as_of_lsn is not None:
        view = snapshot_as_of(view, args.as_of_lsn)
    if args.out:
        view.write.mode("errorifexists").parquet(args.out)
        rows = spark.read.parquet(args.out).count()
        print(json.dumps({"rows": rows, "out": args.out, "as_of_lsn": args.as_of_lsn}))
    else:
        view.show(args.limit, truncate=False)


def cmd_materialize(args) -> None:
    """Build (or incrementally refresh) the read-optimized materialized
    SCD2 view of a version store."""
    from embulk_filter_copy_spark.cdc.history import (
        materialize_history,
        refresh_history,
    )
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    store = LakeTable.load(spark, args.store)
    if LakeTable.exists(args.view):
        res = refresh_history(store, LakeTable.load(spark, args.view))
    else:
        dest = materialize_history(store, args.view)
        res = {"built": True, "rows": dest.row_count()}
    print(json.dumps(res))


def cmd_compact_quarantine(args) -> None:
    """Fold per-(run, epoch, sink) quarantine dirs into one compacted dir
    (small-file GC for the quarantine root; idempotent on crash-resume)."""
    from embulk_filter_copy_spark.cdc.apply import compact_quarantine

    spark = _spark(args)
    print(json.dumps(compact_quarantine(
        spark, args.path, keep_recent=args.keep_recent,
        protect_age=args.protect_age,
    )))


def cmd_redrive(args) -> None:
    """Re-parse dead-lettered raw envelope lines with corrected options and
    apply the survivors through the normal batch merge; still-unparseable
    lines stay dead-lettered. Idempotent per quarantine directory."""
    from embulk_filter_copy_spark.cdc.replayer import redrive_dead_letters

    spark = _spark(args)
    print(json.dumps(redrive_dead_letters(
        spark,
        args.dead_letter,
        args.sink,
        keys=tuple(args.keys.split(",")) if args.keys else None,
        payload_wrapper=args.payload_wrapper,
        dedup=args.dedup,
        merge_mode=args.merge_mode,
    )))


def _parse_scalar(text: str, type_: str):
    """A CLI string as a value of the column's declared scalar type (types
    Python has no literal for — date, timestamp — stay strings and are cast
    by the lookup itself)."""
    type_ = type_.lower()
    if type_ in ("int", "integer", "long", "bigint"):
        return int(text)
    if type_ in ("float", "double"):
        return float(text)
    if type_ in ("boolean", "bool"):
        low = text.lower()
        if low not in ("true", "false"):
            raise SystemExit(f"not a boolean: {text!r} (use true or false)")
        return low == "true"
    return text


def cmd_lookup(args) -> None:
    import json as _json

    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    key = dict(kv.split("=", 1) for kv in args.key)
    schema = t.snapshot_at(args.version).schema if args.version else t.schema
    types = {f.name: f.type for f in schema.fields}
    unknown = sorted(set(key) - set(types))
    if unknown:
        raise SystemExit(f"--key names columns not in the table's schema: {unknown}")
    typed = {c: _parse_scalar(v, types[c]) for c, v in key.items()}
    df = t.lookup(typed, version=args.version)
    rows = [r.asDict() for r in df.limit(args.limit).collect()]
    print(_json.dumps(rows, default=str))


def cmd_rollback(args) -> None:
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    print(json.dumps(t.rollback(args.to_version)))


def cmd_aggview(args) -> None:
    from embulk_filter_copy_spark.cdc.aggview import build_agg_view, refresh_agg_view
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    if not LakeTable.exists(args.view):
        if not args.group_by:
            raise SystemExit("--group-by is required to build a new view")
        res = build_agg_view(
            spark, t, args.view,
            group_cols=args.group_by.split(","),
            sum_cols=args.sum.split(",") if args.sum else [],
        )
    else:
        res = refresh_agg_view(spark, t, args.view)
    print(json.dumps(res))


def cmd_changelog(args) -> None:
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    df = t.changelog(args.since_version, version=args.until_version)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(), "out": args.out}))
    else:
        df.show(args.limit, truncate=False)


def cmd_fsck(args) -> None:
    from embulk_filter_copy_spark.lake.fsck import fsck
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    report = fsck(spark, t, deep=not args.metadata_only)
    print(json.dumps(report))
    if not report["ok"]:
        sys.exit(3)


def cmd_rescale(args) -> None:
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    cols = args.bucket_by.split(",") if args.bucket_by else None
    print(json.dumps(t.rescale_buckets(args.buckets, new_bucket_columns=cols)))


def cmd_expire(args) -> None:
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    print(json.dumps(t.expire_snapshots(keep_last=args.keep_last)))


def cmd_compact(args) -> None:
    from embulk_filter_copy_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    res = table.compact(
        purge_tombstones=args.purge_tombstones,
        max_files_per_bucket=args.max_files_per_bucket,
        min_delta_files=args.min_delta_files,
        sort_by=args.sort_by.split(",") if args.sort_by else None,
        files_per_bucket_out=args.files_per_bucket_out,
    )
    print(json.dumps(res))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="embulk_filter_copy_spark")
    p.add_argument("--master", default=None, help="override spark master (default: local[cpus])")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bootstrap", help="create a LakeTable from a parquet snapshot")
    b.add_argument("--table", required=True)
    b.add_argument("--snapshot", required=True)
    b.add_argument("--keys", default="repo,path")
    b.add_argument("--buckets", type=int, default=64)
    b.add_argument("--snapshot-lsn", type=int, default=0,
                   help="WAL position the snapshot was taken at: every row "
                        "bootstraps with _lsn at this value, so replaying a "
                        "PARTIAL WAL tail that overlaps the snapshot cannot "
                        "regress keys to pre-snapshot states (with the "
                        "default 0 the WAL must contain the full history)")

    r = sub.add_parser("replay", help="stream-replay a WAL directory into sinks")
    r.add_argument("--events", required=True)
    r.add_argument("--payload-wrapper", action="store_true",
                   help="Debezium records use the Connect converter's {schema, payload} framing")
    r.add_argument("--format", choices=["parquet", "debezium-jsonl", "kafka"],
                   default="parquet",
                   help="WAL encoding: parquet event rows, Debezium JSON "
                        "envelope files, or a Kafka topic of Debezium "
                        "envelopes (--events is the topic subscription; "
                        "needs the spark-sql-kafka package on the classpath)")
    r.add_argument("--sink", action="append", default=[], help="sink table path (repeatable)")
    r.add_argument("--sink-spec", help="JSON file with a nested SinkSpec tree")
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--keys", default="repo,path")
    r.add_argument("--watermark", default="10 minutes")
    r.add_argument("--max-files-per-trigger", type=int, default=None)
    r.add_argument("--dedup", choices=["plain", "salted", "patch"], default="plain",
                   help="plain = one-shuffle max_by (partial agg bounds hot keys); "
                        "salted = explicit two-phase for pathological skew; "
                        "patch = per-column fold of partial-image events (op='P'; cow only)")
    r.add_argument("--salts", type=int, default=16)
    r.add_argument("--merge-mode", choices=["cow", "mor"], default="cow",
                   help="cow = read-optimized rewrite; mor = write-optimized delta append")
    r.add_argument("--quarantine", default=None, help="parquet path for late events")
    r.add_argument("--quarantine-delta", type=int, default=600)
    r.add_argument("--dead-letter", default=None,
                   help="root for raw malformed envelope lines (envelope "
                        "sources: debezium-jsonl and kafka); GC'd by "
                        "compact-quarantine")
    r.add_argument("--audit-sql", default=None,
                   help="write-audit-publish gate: SQL over the temp view "
                        "epoch_changes (each sink's epoch delta); returned "
                        "rows = violations, the epoch rolls back on every "
                        "sink and the stream fails")
    r.add_argument("--kafka-option", action="append", default=[],
                   metavar="KEY=VALUE",
                   help="Kafka reader option (repeatable), e.g. "
                        "kafka.bootstrap.servers=host:9092, "
                        "startingOffsets=earliest, maxOffsetsPerTrigger=…")

    c = sub.add_parser("compact", help="compact small files / purge tombstones")
    c.add_argument("--table", required=True)
    c.add_argument("--purge-tombstones", action="store_true")
    c.add_argument("--max-files-per-bucket", type=int, default=1)
    c.add_argument("--min-delta-files", type=int, default=1,
                   help="fold a bucket's MOR deltas only once this many have"
                        " accumulated (defer write amplification; reads stay"
                        " correct at any delta depth)")
    c.add_argument("--sort-by", default=None,
                   help="comma-separated sort columns: sort-ordered rewrite, records per-file col_stats for range pruning")
    c.add_argument("--files-per-bucket-out", type=int, default=1,
                   help="range-split each bucket into N disjoint-range files")

    cq = sub.add_parser("compact-quarantine",
                        help="fold per-epoch quarantine dirs into one compacted dir")
    cq.add_argument("--path", required=True, help="quarantine root")
    cq.add_argument("--keep-recent", type=int, default=2,
                    help="leave each run's N most-recent (run, epoch) groups"
                         " uncompacted (an in-flight epoch may still rewrite"
                         " its dirs)")
    cq.add_argument("--protect-age", type=float, default=None,
                    help="fold protected groups anyway once idle this many "
                         "seconds (default: protect indefinitely; set it >> "
                         "the longest plausible crash-resume lag)")

    rd = sub.add_parser("redrive",
                        help="re-parse dead letters and apply the survivors")
    rd.add_argument("--dead-letter", required=True, help="DLQ root to redrive")
    rd.add_argument("--sink", required=True, help="sink table path")
    rd.add_argument("--keys", default=None,
                    help="override key columns (default: the sink table's)")
    rd.add_argument("--payload-wrapper", action="store_true",
                    help="parse with the Connect {schema, payload} framing "
                         "(e.g. when its absence was what dead-lettered them)")
    rd.add_argument("--dedup", choices=["plain", "salted", "patch"], default="plain")
    rd.add_argument("--merge-mode", choices=["cow", "mor"], default="cow")

    rs = sub.add_parser("rescale", help="rewrite the table under a new bucket spec (count and/or columns)")
    rs.set_defaults(func=cmd_rescale)
    rs.add_argument("--table", required=True)
    rs.add_argument("--buckets", type=int, default=None)
    rs.add_argument("--bucket-by", default=None,
                    help="comma-separated new bucket columns (subset of the keys)")

    e = sub.add_parser("expire", help="expire old snapshots and delete orphaned data files")
    e.set_defaults(func=cmd_expire)
    e.add_argument("--table", required=True)
    e.add_argument("--keep-last", type=int, default=10)

    fk = sub.add_parser(
        "fsck",
        help="audit table consistency: manifests vs data files, commit "
        "registry, bucket placement, base-key uniqueness (exit 3 on issues)",
    )
    fk.set_defaults(func=cmd_fsck)
    fk.add_argument("--table", required=True)
    fk.add_argument("--metadata-only", action="store_true",
                    help="skip the distributed data pass")

    lk = sub.add_parser(
        "lookup",
        help="bucket-pruned point lookup: O(one bucket) regardless of size",
    )
    lk.set_defaults(func=cmd_lookup)
    lk.add_argument("--table", required=True)
    lk.add_argument("--key", action="append", required=True,
                    help="col=value (repeat; must cover the bucket columns)")
    lk.add_argument("--version", type=int, default=None)
    lk.add_argument("--limit", type=int, default=20)

    rb = sub.add_parser(
        "rollback",
        help="roll the table back to an earlier snapshot (non-destructive; "
        "restores the commit registry so the undone WAL range re-applies)",
    )
    rb.set_defaults(func=cmd_rollback)
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-version", type=int, required=True)

    cl = sub.add_parser(
        "changelog",
        help="pre/post-image changelog (I/U/D) since a snapshot version",
    )
    cl.set_defaults(func=cmd_changelog)
    cl.add_argument("--table", required=True)
    cl.add_argument("--since-version", type=int, required=True)
    cl.add_argument("--until-version", type=int, default=None,
                    help="pin the window's end snapshot (default: current)")
    cl.add_argument("--out", help="write the changelog as parquet (else print)")
    cl.add_argument("--limit", type=int, default=20)

    av = sub.add_parser(
        "aggview",
        help="build (first run, --group-by required) or incrementally "
        "refresh a delta-maintained count/sum aggregate view",
    )
    av.set_defaults(func=cmd_aggview)
    av.add_argument("--table", required=True)
    av.add_argument("--view", required=True, help="view table root")
    av.add_argument("--group-by", default=None, help="comma-separated group columns")
    av.add_argument("--sum", default=None, help="comma-separated sum columns")

    ch = sub.add_parser("changes", help="emit the net change feed since a snapshot version")
    ch.add_argument("--table", required=True)
    ch.add_argument("--since-version", type=int, required=True)
    ch.add_argument("--out", help="write the feed as parquet (else print)")
    ch.add_argument("--limit", type=int, default=20)

    h = sub.add_parser("history", help="SCD2 view / point-in-time snapshot of a version store")
    h.add_argument("--table", required=True)
    h.add_argument("--as-of-lsn", type=int, default=None)
    h.add_argument("--out", help="write the view as parquet (else print)")
    h.add_argument("--limit", type=int, default=20)

    m = sub.add_parser("materialize", help="build or refresh the materialized SCD2 view")
    m.add_argument("--store", required=True, help="version-store table root")
    m.add_argument("--view", required=True, help="materialized view table root")

    args = p.parse_args(argv)
    {
        "bootstrap": cmd_bootstrap,
        "replay": cmd_replay,
        "compact": cmd_compact,
        "compact-quarantine": cmd_compact_quarantine,
        "redrive": cmd_redrive,
        "fsck": cmd_fsck,
        "lookup": cmd_lookup,
        "aggview": cmd_aggview,
        "rescale": cmd_rescale,
        "rollback": cmd_rollback,
        "changelog": cmd_changelog,
        "expire": cmd_expire,
        "changes": cmd_changes,
        "history": cmd_history,
        "materialize": cmd_materialize,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.path.insert(0, ".")
    main()
