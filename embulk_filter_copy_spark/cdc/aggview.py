"""Incrementally-maintained aggregate views over a CDC sink table.

The lake analogue of a streaming materialized aggregate: a view holding
``GROUP BY group_cols → count + sums`` over a LakeTable's live rows, kept
fresh from the table's own change history instead of recomputed from
scratch. The reference has no aggregation at all (SURVEY.md §2.4 marks the
category absent/delegated); this is the generalized capability a CDC sink
feeding dashboards or routing decisions needs.

Maintenance algebra (the classic delta-maintenance rules for distributive
aggregates, applied over :meth:`LakeTable.changelog`'s pre/post images):

* insert  (I): ``+1`` row, ``+after``  to the AFTER-image's group;
* delete  (D): ``-1`` row, ``-before`` from the BEFORE-image's group;
* update  (U): both — which handles rows whose GROUP COLUMN itself changed
  (the row leaves one group and enters another; a naive "group by current
  group" delta silently corrupts both groups).

Only count/sum (and anything derivable: avg, rates) are delta-maintainable
under deletes without re-reading group members; min/max would need a
touched-group rescan and are out of scope here.

Cost model at 100 TB: the changelog side is manifest-diff + LSN pruned
(∝ changed data), the delta is ONE partial-aggregated shuffle on the group
columns (∝ changed rows, then ∝ touched groups), and the view merge joins
delta against the stored view (∝ #groups — repos/languages, not rows). No
stage ever scans the full fact table after the initial build.

Freshness/consistency contract: the view is a LakeTable keyed by the
group columns, in one bucket (one row per group). Every build, rebuild and
refresh is one view commit that replaces that bucket and records
``store_version``, the exact table version the view reflects
(:meth:`LakeTable.source_version`). A reader planned on view version N
keeps reading while N+1 commits; ``read(version=...)``, ``fsck``,
``rollback`` and ``expire_snapshots`` work on a view path. A refresh is
idempotent (same version → no-op) and falls back to a full rebuild when the
change feed cannot be trusted across the gap — a rollback or tombstone
purge between the view's version and now (both raise in ``read_changes``),
or a view version AHEAD of the table (rollback past the view).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from embulk_filter_copy_spark.lake.schema import TableSchema
from embulk_filter_copy_spark.lake.table import LakeTable


def _aggregate(df: DataFrame, group_cols: list[str], sum_cols: list[str]) -> DataFrame:
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(F.coalesce(F.col(c), F.lit(0.0))).alias(f"sum_{c}") for c in sum_cols],
    )


def _spec(view: LakeTable) -> tuple[list[str], list[str]]:
    """(group_cols, sum_cols) of a view: its key columns, and the source
    columns its ``sum_*`` columns total."""
    group_cols = view.key_columns
    return group_cols, [
        f.name[len("sum_"):]
        for f in view.schema.fields
        if f.name not in group_cols and f.name != "n_rows"
    ]


def _publish(view: LakeTable, agg: DataFrame, version: int) -> None:
    """One view commit: ``agg`` replaces the view's single bucket."""
    for f in TableSchema.from_struct(agg.schema).fields:
        if f.type != view.schema.field(f.name).type:
            # a group column the source widened: widen the view too, or
            # the write would cast the new values back down
            view.update_schema(
                {"action": "widen", "column": f.name, "to": f.type}, view.schema_lsn + 1
            )
    view.replace_buckets([0], agg, commit={"store_version": version})


def _load(spark: SparkSession, view_path: str) -> LakeTable:
    if not LakeTable.exists(view_path):
        raise FileNotFoundError(f"no aggregate view at {view_path}")
    return LakeTable.load(spark, view_path)


def read_agg_view(spark: SparkSession, view_path: str) -> DataFrame:
    return _load(spark, view_path).read()


def agg_view_version(view_path: str) -> int:
    if not LakeTable.exists(view_path):
        return -1
    v = LakeTable.load(None, view_path).source_version()
    return -1 if v is None else v


def build_agg_view(
    spark: SparkSession,
    table: LakeTable,
    view_path: str,
    group_cols: list[str],
    sum_cols: list[str] | None = None,
) -> dict:
    """Full build: one aggregation over the table's live rows at a pinned
    version. Runs once; every later refresh is incremental."""
    group_cols, sum_cols = list(group_cols), list(sum_cols or [])
    version = table.current_version()
    agg = _aggregate(table.read(version=version), group_cols, sum_cols)
    if LakeTable.exists(view_path):
        view = LakeTable.load(spark, view_path)
        if _spec(view) != (group_cols, sum_cols):
            raise ValueError(
                f"view at {view_path} aggregates {_spec(view)}, not {(group_cols, sum_cols)}"
            )
    else:
        view = LakeTable.create(
            spark, view_path, TableSchema.from_struct(agg.schema),
            key_columns=group_cols, n_buckets=1,
        )
    _publish(view, agg, version)
    return {"mode": "full", "version": version}


def _delta(
    log: DataFrame, keys: set[str], group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """Per-group (Δcount, Δsums) from a changelog frame. Key columns appear
    bare in the changelog; payload columns as before_/after_ pairs."""

    def ref(side: str, c: str):
        return F.col(c) if c in keys else F.col(f"{side}_{c}")

    def contrib(side: str, sign: int, ops: list[str]) -> DataFrame:
        return log.filter(F.col("op").isin(*ops)).select(
            *[ref(side, g).alias(g) for g in group_cols],
            F.lit(sign).cast("long").alias("_dn"),
            *[
                (F.lit(sign) * F.coalesce(ref(side, c), F.lit(0.0))).alias(f"_ds_{c}")
                for c in sum_cols
            ],
        )

    both = contrib("before", -1, ["U", "D"]).unionByName(contrib("after", +1, ["I", "U"]))
    return both.groupBy(*group_cols).agg(
        F.sum("_dn").alias("_dn"),
        *[F.sum(f"_ds_{c}").alias(f"_ds_{c}") for c in sum_cols],
    )


def refresh_agg_view(spark: SparkSession, table: LakeTable, view_path: str) -> dict:
    """Incremental refresh from the table's changelog since the view's
    version. Idempotent; falls back to a full rebuild when the feed refuses
    the gap (rollback / tombstone purge) or the table regressed below the
    view's version."""
    view = _load(spark, view_path)
    since = view.source_version()
    if since is None:
        raise FileNotFoundError(f"aggregate view at {view_path} was never built")
    group_cols, sum_cols = _spec(view)
    version = table.current_version()
    if version == since:
        return {"mode": "noop", "version": version}
    if version < since:
        res = build_agg_view(spark, table, view_path, group_cols, sum_cols)
        return dict(res, mode="rebuild", reason="table regressed below view version")
    try:
        # pin the window's END to the version the view will record — a
        # commit landing between the version read and the changelog scan
        # would otherwise be covered by the scan but NOT by the recorded
        # version, and the next refresh would re-apply it (double count)
        log = table.changelog(since, version=version)
    except ValueError as e:
        res = build_agg_view(spark, table, view_path, group_cols, sum_cols)
        return dict(res, mode="rebuild", reason=str(e))
    keys = set(table.key_columns)
    delta = _delta(log, keys, group_cols, sum_cols)
    old = view.read()
    # null-safe group equality: NULL is a legitimate group value, and a
    # plain equi-join would never match it (duplicating the null group on
    # every refresh)
    d = delta.select(
        *[F.col(g).alias(f"_g_{g}") for g in group_cols],
        "_dn",
        *[F.col(f"_ds_{c}") for c in sum_cols],
    )
    cond = None
    for g in group_cols:
        piece = old[g].eqNullSafe(d[f"_g_{g}"])
        cond = piece if cond is None else (cond & piece)
    merged = (
        old.join(d, on=cond, how="full_outer")
        .select(
            *[F.coalesce(old[g], d[f"_g_{g}"]).alias(g) for g in group_cols],
            (F.coalesce(F.col("n_rows"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))).alias(
                "n_rows"
            ),
            *[
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0.0))
                    + F.coalesce(F.col(f"_ds_{c}"), F.lit(0.0))
                ).alias(f"sum_{c}")
                for c in sum_cols
            ],
        )
        .filter(F.col("n_rows") > 0)
    )
    _publish(view, merged, version)
    return {"mode": "incremental", "version": version, "since": since}
