"""A minimal ACID lakehouse table format ("LakeTable") over parquet.

The sandbox image ships no Iceberg/Delta jars, so the engine implements the
small slice of a table format that the CDC replayer needs — and implements it
the way Iceberg does, because the commit-manifest protocol IS the engine's
exactly-once story (SURVEY.md §7.3: "commit-manifest protocol — the core
custom piece"):

  * snapshot isolation: an immutable JSON root per version referencing
    immutable manifest chunks (the data files of a fixed bucket range,
    shared by name until a write touches them) and commit-log segments;
    readers resolve the current root once and never see partial writes,
  * atomic commits: new pieces are created first, then the root with O_EXCL
    (optimistic concurrency — a losing concurrent writer gets
    ``CommitConflict`` and leaves only unreferenced pieces) and the CURRENT
    pointer is swapped with an atomic rename,
  * hash-bucket layout: data files are grouped by
    ``pmod(xxhash64(*key_columns), n_buckets)`` so a MERGE rewrites only the
    buckets its batch touches (copy-on-write, like Iceberg CoW) and the
    merge join is co-partitioned by construction,
  * schema evolution by field id (add / rename / type-widen), old files are
    projected to the current schema at read time,
  * commit metadata: every root carries the (run_id, epoch, seq) commit
    index (epochs as closed ranges) written atomically WITH the data — the
    direct analogue of the reference's committed-task skip
    (ReuseInputExecutorPlugin.scala:61-64); the full commit records live in
    the root's inline tail and in sealed log segments.

At 100 TB the same layout holds: n_buckets scales to thousands, bucket
rewrites are independent Spark tasks and touch only their chunks, and the
JSON pieces could move to Avro manifests — the protocol (O_EXCL pieces and
root + pointer swap) is object-store-compatible (S3 conditional PUT).
"""

from embulk_filter_copy_spark.lake.schema import Field, TableSchema
from embulk_filter_copy_spark.lake.table import CommitConflict, LakeTable

__all__ = ["Field", "TableSchema", "LakeTable", "CommitConflict"]
