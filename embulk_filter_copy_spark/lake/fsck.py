"""Table consistency checker (``fsck``) — the operational audit a lake
format needs before anyone trusts exactly-once claims in production.

Two layers:

* **metadata checks** (driver-side, manifest-only — O(files) tiny JSON
  work, no cluster time): every manifest chunk and commit-log segment the
  root references is present and parses, the root's exactly-once index and
  LSN high-water mark agree with its commit records, snapshot chain
  integrity, commit-registry uniqueness, schema-map completeness, data
  files present on disk;
* **deep checks** (``deep=True``, one distributed pass over the data,
  grouped by file schema version exactly like the snapshot scanner): per
  file, row counts and ``_lsn`` bounds must match the manifest's
  footer-derived stats; every row must hash into the bucket its file is
  manifested under (catches mis-bucketed writes and stale-rescale mixes —
  either would silently break bucket-pruned MERGE); and within base files
  a key must appear at most once per bucket (the copy-on-write invariant;
  delta files legitimately repeat keys until compaction folds them).

Every violation is reported, none raises — fsck is a diagnosis tool, and a
damaged table should yield a full report, not die on the first finding.

Reference contrast: the reference's only integrity surface is the commit
report log (LoaderState.scala:111-120); there is no way to ask whether the
sink's data matches what the transaction claimed. Here the manifests carry
enough redundancy (rows, lsn bounds, bucket, schema version per file) that
the data can be cross-examined against them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_filter_copy_spark.lake.schema import TableSchema, spark_type
from embulk_filter_copy_spark.lake.table import META_FIELDS, LakeTable, build_index


def fsck(spark: SparkSession, table: LakeTable, deep: bool = True) -> dict:
    """Return ``{"ok": bool, "issues": [...], "checked": {...}}``."""
    issues: list[dict] = []
    snap = table.snapshot()

    def issue(kind: str, **detail):
        issues.append({"kind": kind, **detail})

    # -- metadata layer ---------------------------------------------------
    # pieces: a missing or unparsable one is reported and skipped, so the
    # rest of the audit still runs on what loads
    def load(kind: str, name: str):
        try:
            return snap.piece(name)
        except FileNotFoundError:
            issue(f"missing_{kind}", name=name)
        except (OSError, ValueError) as e:
            issue(f"unparsable_{kind}", name=name, error=str(e))
        return None

    files: list[dict] = []
    for _, name in snap.chunk_refs():
        chunk = load("manifest_chunk", name)
        if chunk is not None:
            files += chunk["files"]
    sealed: list[list[dict]] = []
    name = snap["log"]["head"]
    while name is not None:
        seg = load("log_segment", name)
        if seg is None:
            break  # the chain's older segments are unreachable
        sealed.append(seg["commits"])
        name = seg["prev"]
    commits = [c for seg in reversed(sealed) for c in seg] + snap["tail"]
    if name is None:  # the whole log was readable
        if build_index(commits) != snap["index"]:
            issue("index_mismatch", version=snap["version"])
        lsns = [c["lsn_max"] for c in commits if c.get("lsn_max") is not None]
        if snap["high_lsn"] != max(lsns, default=None):
            issue("high_lsn_mismatch", root=snap["high_lsn"],
                  commits=max(lsns, default=None))

    seen: set[tuple] = set()
    for c in commits:
        if "run_id" not in c:
            continue  # maintenance/rollback markers carry no slot
        key = (c.get("run_id"), c.get("epoch"), c.get("seq", 0))
        if key in seen:
            issue("duplicate_commit", run_id=key[0], epoch=key[1], seq=key[2])
        seen.add(key)

    for f in files:
        if str(f["schema_version"]) not in snap["schemas"]:
            issue("missing_schema_version", path=f["path"],
                  schema_version=f["schema_version"])
        if not os.path.exists(os.path.join(table.path, f["path"])):
            issue("missing_data_file", path=f["path"])

    # snapshot chain: walk parents back from CURRENT; a hole is fine only
    # if expire_snapshots created it (contiguous from the tail)
    v = snap["version"]
    chain_ok = True
    while v is not None and chain_ok:
        p = os.path.join(table._meta_dir, f"v{v:08d}.json")
        if not os.path.exists(p):
            # expired horizon — everything below must also be gone
            for w in range(1, v + 1):
                if os.path.exists(os.path.join(table._meta_dir, f"v{w:08d}.json")):
                    issue("snapshot_chain_hole", missing_version=v,
                          but_present=w)
                    break
            chain_ok = False
            break
        v = table.snapshot_at(v)["parent"]

    checked = {"files": len(files), "commits": len(commits)}

    # -- deep layer --------------------------------------------------------
    if deep and files:
        live = {
            f["path"]: f
            for f in files
            if os.path.exists(os.path.join(table.path, f["path"]))
        }
        # join per-file data stats back to manifest entries by absolute URI
        # (what input_file_name() emits) — relative-path string surgery is
        # fragile across Hadoop FS implementations
        manifest_rows = [
            ("file://" + os.path.join(table.path, p), p, f["bucket"],
             f["rows"], f.get("lsn_min"), f.get("lsn_max"))
            for p, f in live.items()
        ]
        mdf = spark.createDataFrame(
            manifest_rows,
            "uri string, rel string, m_bucket int, m_rows long,"
            " m_lsn_min long, m_lsn_max long",
        )
        by_schema: dict[int, list[str]] = {}
        for p, f in live.items():
            by_schema.setdefault(f["schema_version"], []).append(p)

        cur_schema = table.schema
        bucket_cols = table.bucket_columns
        n_buckets = table.n_buckets
        stats_parts = []
        dup_parts = []
        keys = snap["key_columns"]
        for sv, rels in by_schema.items():
            sch = TableSchema.from_json(snap["schemas"][str(sv)])
            struct = sch.to_struct()
            for n, t_ in META_FIELDS:
                struct = struct.add(T.StructField(n, spark_type(t_), True))

            # bucket/key expressions in THIS file group's column names,
            # mapped from the current schema by field id (renames must not
            # break the audit; a bucket/key column missing from an old
            # schema means those files predate it — map to NULL)
            def old_name(col: str):
                cf = cur_schema.field(col)
                of = sch.field_by_id(cf.id)
                return of.name if of is not None else None

            bnames = [old_name(c) for c in bucket_cols]
            bexpr = (
                F.pmod(F.xxhash64(*[F.col(n) for n in bnames]), F.lit(n_buckets))
                if all(n is not None for n in bnames)
                else F.lit(None).cast("int")
            )
            raw = (
                spark.read.schema(struct)
                .parquet(*[os.path.join(table.path, r) for r in rels])
                .withColumn("_file", F.input_file_name())
            )
            # per-file stats + per-row bucket verification in one pass
            stats_parts.append(
                raw.withColumn("_calc_bucket", bexpr)
                .join(F.broadcast(mdf), F.col("_file") == mdf["uri"], "left")
                .groupBy("rel")
                .agg(
                    F.count(F.lit(1)).alias("d_rows"),
                    F.min("_lsn").alias("d_lsn_min"),
                    F.max("_lsn").alias("d_lsn_max"),
                    F.sum(
                        F.when(
                            F.col("_calc_bucket").isNotNull()
                            & (F.col("_calc_bucket") != F.col("m_bucket")),
                            1,
                        ).otherwise(0)
                    ).alias("bucket_mismatches"),
                    F.first("m_rows").alias("m_rows"),
                    F.first("m_lsn_min").alias("m_lsn_min"),
                    F.first("m_lsn_max").alias("m_lsn_max"),
                )
            )
            # duplicate-key check over BASE rows only (keys projected by
            # field id so renamed schemas align across file groups)
            base_rels = [r for r in rels if not live[r].get("kind") == "delta"]
            if base_rels:
                cols = []
                for k in keys:
                    n = old_name(k)
                    cols.append(F.col(n).alias(k) if n is not None else F.lit(None).alias(k))
                dup_parts.append(
                    spark.read.schema(struct)
                    .parquet(*[os.path.join(table.path, r) for r in base_rels])
                    .select(*cols, bexpr.alias("_b"))
                )

        stats = stats_parts[0]
        for p in stats_parts[1:]:
            stats = stats.unionByName(p)
        for r in stats.collect():
            if r["d_rows"] != r["m_rows"]:
                issue("row_count_mismatch", path=r["rel"],
                      manifest=r["m_rows"], data=r["d_rows"])
            if r["m_lsn_min"] is not None and r["d_lsn_min"] is not None and (
                r["d_lsn_min"] < r["m_lsn_min"] or r["d_lsn_max"] > r["m_lsn_max"]
            ):
                issue("lsn_bounds_violation", path=r["rel"],
                      manifest=(r["m_lsn_min"], r["m_lsn_max"]),
                      data=(r["d_lsn_min"], r["d_lsn_max"]))
            if (r["bucket_mismatches"] or 0) > 0:
                issue("bucket_mismatch", path=r["rel"],
                      rows=r["bucket_mismatches"])

        if dup_parts:
            allb = dup_parts[0]
            for p in dup_parts[1:]:
                allb = allb.unionByName(p)
            dups = (
                allb.groupBy(*keys, "_b")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
            )
            for r in dups.limit(20).collect():
                issue("duplicate_key_in_base", key={k: r[k] for k in keys},
                      bucket=r["_b"], occurrences=r["n"])
        checked["deep"] = True

    return {"ok": not issues, "issues": issues, "checked": checked}
