"""LakeTable: snapshot-isolated, hash-bucketed, copy-on-write parquet table.

Layout on disk (metadata format v2)::

    <root>/
      _meta/
        v00000001.json      # root snapshot: bucket spec, schemas, piece
        v00000002.json      #   references, exactly-once index, high-water
                            #   marks and an inline tail of recent commits
        CURRENT             # text file holding the current version number
        manifests/m*.json   # immutable manifest chunk: the file entries of
                            #   CHUNK_BUCKETS consecutive buckets
        log/s*.json         # immutable commit-log segment: TAIL_COMMITS
                            #   sealed commits + the previous segment's name
      data/
        c00000002/_bucket=3/part-*.parquet

A commit writes the root plus only the pieces it changes: a data write
rewrites the chunks holding the buckets it touched and reuses every other
chunk by name; a commit record joins the root's inline tail, which is
sealed into a segment once it holds TAIL_COMMITS records. Commit cost
therefore follows the buckets touched, not the table's file count or the
length of its history. ``has_commit`` is a range check on the root's
index: per ``(run_id, seq)``, the committed epochs as closed ranges.

Commit protocol (the exactly-once core, see lake/__init__ docstring):
  1. build the next root in memory (pieces it shares are referenced by name),
  2. create each NEW piece under a fresh unique name with O_CREAT|O_EXCL,
  3. create ``v{n+1}.json`` with O_CREAT|O_EXCL — a concurrent committer
     racing to the same version loses and gets :class:`CommitConflict`,
  4. atomically rename a temp file onto ``CURRENT``.
Because pieces land before the root, a crash or a losing committer leaves
only unreferenced pieces (``expire_snapshots(sweep_orphans=True)`` removes
them after its grace window), never a root that names a missing piece.

Format-v1 roots (one JSON holding every file entry and every commit) still
load, converted once into the v2 model in memory; the next commit writes v2.

Metadata columns stored in data files alongside the logical schema:
  * ``_lsn``      — last-applied change LSN for the row (the MERGE guard),
  * ``_deleted``  — tombstone flag; logical reads filter it out. Tombstones
    (rather than physical deletes) make out-of-order cross-batch replays
    safe: a late INSERT with a lower LSN cannot resurrect a row deleted at a
    higher LSN. Compaction may purge tombstones older than the watermark.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from bisect import bisect_right
from collections.abc import Iterator, Mapping
from concurrent.futures import ThreadPoolExecutor
from itertools import chain
from operator import itemgetter

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_filter_copy_spark.lake.schema import (
    SchemaEvolutionError,
    TableSchema,
    spark_type,
)

FORMAT_VERSION = 2
# buckets per manifest chunk: a write rewrites only the chunks of the
# buckets it touches
CHUNK_BUCKETS = 64
# commit records kept inline in the root before they are sealed into a
# commit-log segment
TAIL_COMMITS = 32
# piece name prefix → its directory under _meta/
_PIECE_DIRS = {"m": "manifests", "s": "log"}

# metadata columns carried in every data file, invisible to logical reads
META_FIELDS: list[tuple[str, str]] = [("_lsn", "long"), ("_deleted", "boolean")]
META_NAMES = [n for n, _ in META_FIELDS]


class CommitConflict(RuntimeError):
    """A concurrent writer committed the same version first; retry on latest."""


def _piece_name(kind: str, version: int) -> str:
    return f"{kind}{version:08d}-{uuid.uuid4().hex[:12]}.json"


def _create_excl(path: str, text: str) -> None:
    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as f:
        f.write(text)


def _index_has(index: dict, run_id, epoch, seq) -> bool:
    ranges = index.get(run_id, {}).get(str(seq))
    if not ranges:
        return False
    i = bisect_right(ranges, int(epoch), key=itemgetter(0))
    return i > 0 and ranges[i - 1][1] >= epoch


def _index_add(index: dict, run_id, epoch, seq) -> dict:
    """Copy of ``index`` with ``epoch`` in the ``(run_id, seq)`` ranges;
    only the containers on the path are copied."""
    epoch = int(epoch)
    by_seq = index.get(run_id, {})
    ranges = list(by_seq.get(str(seq), ()))
    i = bisect_right(ranges, epoch, key=itemgetter(0))
    if i and ranges[i - 1][1] >= epoch:
        return index
    joins_left = i > 0 and ranges[i - 1][1] == epoch - 1
    joins_right = i < len(ranges) and ranges[i][0] == epoch + 1
    if joins_left and joins_right:
        ranges[i - 1 : i + 1] = [[ranges[i - 1][0], ranges[i][1]]]
    elif joins_left:
        ranges[i - 1] = [ranges[i - 1][0], epoch]
    elif joins_right:
        ranges[i] = [epoch, ranges[i][1]]
    else:
        ranges.insert(i, [epoch, epoch])
    return {**index, run_id: {**by_seq, str(seq): ranges}}


def build_index(commits: list[dict]) -> dict:
    """The exactly-once index a commit list implies (fsck cross-checks it)."""
    index: dict = {}
    for c in commits:
        if c.get("run_id") is not None and c.get("epoch") is not None:
            index = _index_add(index, c["run_id"], c["epoch"], c.get("seq", 0))
    return index


class Snapshot(Mapping):
    """One table version: the root's fields, plus the file list and the
    commit log assembled lazily from the pieces the root references.

    ``snap["files"]`` and ``snap["commits"]`` keep the flat shape of the
    v1 format; the exactly-once hot path (``has_commit``, ``high_lsn``,
    ``add_commit``) reads root fields only. A draft (the next version, see
    ``LakeTable._next_snapshot``) holds its not-yet-written pieces in
    ``pending``; its mutators replace root containers, never edit them, so
    a draft shares the parent's containers safely."""

    def __init__(self, table: LakeTable, root: dict, pending: dict | None = None):
        self.root = root
        self.pending: dict[str, dict] = pending if pending is not None else {}
        self._table = table
        self._files: list[dict] | None = None
        self._commits: list[dict] | None = None

    def __getitem__(self, key):
        if key == "files":
            return self.files()
        if key == "commits":
            return self.commits()
        return self.root[key]

    def __iter__(self):
        yield from self.root
        yield from ("files", "commits")

    def __len__(self) -> int:
        return len(self.root) + 2

    # -- pieces ------------------------------------------------------------
    def piece(self, name: str) -> dict:
        body = self.pending.get(name)
        return body if body is not None else self._table._read_piece(name)

    def chunk_refs(self) -> list[tuple[int, str]]:
        return sorted((int(ci), name) for ci, name in self.root["chunks"].items())

    def segment_names(self) -> Iterator[str]:
        """Sealed commit-log segments, newest first."""
        name = self.root["log"]["head"]
        while name is not None:
            yield name
            name = self.piece(name)["prev"]

    # -- reads -------------------------------------------------------------
    def files(self, buckets: list[int] | None = None) -> list[dict]:
        if buckets is None:
            if self._files is None:
                self._files = [
                    f for _, name in self.chunk_refs() for f in self.piece(name)["files"]
                ]
            return self._files
        bset = {int(b) for b in buckets}
        width = self.root["chunk_buckets"]
        out = []
        for ci in sorted({b // width for b in bset}):
            name = self.root["chunks"].get(str(ci))
            if name is not None:
                out += [f for f in self.piece(name)["files"] if f["bucket"] in bset]
        return out

    def commits(self) -> list[dict]:
        if self._commits is None:
            sealed = [self.piece(name)["commits"] for name in self.segment_names()]
            self._commits = [c for seg in reversed(sealed) for c in seg] + self.root["tail"]
        return self._commits

    @property
    def schema(self) -> TableSchema:
        return TableSchema.from_json(self.root["schemas"][str(self.root["schema_version"])])

    def has_commit(self, run_id: str, epoch: int, seq: int = 0) -> bool:
        return _index_has(self.root["index"], run_id, epoch, seq)

    def high_lsn(self) -> int:
        h = self.root["high_lsn"]
        return 0 if h is None else h

    def added_since(self, old: Snapshot) -> list[dict]:
        """File entries in this snapshot and not in ``old``. An entry's
        bucket fixes its chunk, so only chunks whose name differs between
        the two roots are read and compared."""
        out = []
        for ci, name in self.chunk_refs():
            old_name = old.root["chunks"].get(str(ci))
            if name == old_name:
                continue
            old_paths = (
                {f["path"] for f in old.piece(old_name)["files"]} if old_name else set()
            )
            out += [f for f in self.piece(name)["files"] if f["path"] not in old_paths]
        return out

    # -- draft mutators ----------------------------------------------------
    def set_files(
        self, entries: list[dict], drop_buckets=(), replace_all: bool = False
    ) -> None:
        """Drop the entries of ``drop_buckets`` (or every entry), add
        ``entries``, and stage a new chunk for each chunk that changed."""
        width = self.root["chunk_buckets"]
        chunks = {} if replace_all else dict(self.root["chunks"])
        drop = {int(b) for b in drop_buckets}
        new_by_ci: dict[int, list[dict]] = {}
        for e in entries:
            new_by_ci.setdefault(e["bucket"] // width, []).append(e)
        for ci in sorted({b // width for b in drop} | set(new_by_ci)):
            old_name = chunks.get(str(ci))
            old = self.piece(old_name)["files"] if old_name else []
            kept = [f for f in old if f["bucket"] not in drop]
            if len(kept) == len(old) and ci not in new_by_ci:
                continue  # nothing of this chunk changed
            files = kept + new_by_ci.get(ci, [])
            if files:
                name = _piece_name("m", self.root["version"])
                self.pending[name] = {"chunk": ci, "files": files}
                chunks[str(ci)] = name
            else:
                chunks.pop(str(ci), None)
        self.root["chunks"] = chunks
        self._files = None

    def append_commit(self, commit: dict, stamp: bool = True) -> None:
        """Add a commit record to the tail (sealing a full tail into a new
        segment first) and fold it into the index and high-water marks."""
        root = self.root
        rec = dict(commit, committed_at=time.time()) if stamp else commit
        tail = root["tail"]
        if len(tail) >= TAIL_COMMITS:
            name = _piece_name("s", root["version"])
            self.pending[name] = {"prev": root["log"]["head"], "commits": tail}
            root["log"] = {"head": name, "sealed": root["log"]["sealed"] + len(tail)}
            tail = []
        root["tail"] = tail + [rec]
        if rec.get("run_id") is not None and rec.get("epoch") is not None:
            root["index"] = _index_add(root["index"], rec["run_id"], rec["epoch"], rec.get("seq", 0))
        for field, src in (("high_lsn", "lsn_max"), ("high_ts", "ts_max")):
            if rec.get(src) is not None:
                cur = root[field]
                root[field] = rec[src] if cur is None else max(cur, rec[src])
        if rec.get("purged_tombstones"):
            root["purge_version"] = root["version"]
        if rec.get("kind") == "rollback":
            root["rollbacks"] = root["rollbacks"] + [
                {k: rec[k] for k in ("rollback_to", "rolled_back_from", "at_version")}
            ]
        self._commits = None


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._meta_dir = os.path.join(self.path, "_meta")
        self._current: Snapshot | None = None
        # immutable pieces by name, filled on first read of each
        self._pieces: dict[str, dict] = {}

    # ------------------------------------------------------------------
    # creation / loading
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: TableSchema | list[tuple[str, str]],
        key_columns: list[str],
        n_buckets: int = 16,
        bucket_columns: list[str] | None = None,
    ) -> LakeTable:
        """``bucket_columns`` (default: the key columns) decouples physical
        co-location from row identity, Iceberg-partition-spec style: e.g. a
        version-history table keyed ``(repo, path, valid_from_lsn)`` but
        bucketed by ``(repo, path)`` keeps every version of a key in ONE
        bucket, so point-lookups and per-key history rewrites prune to a
        single bucket. Must be a subset of ``key_columns`` — otherwise two
        rows with equal keys could land in different buckets and the
        bucket-pruned MERGE would silently miss its target row."""
        if not isinstance(schema, TableSchema):
            schema = TableSchema.from_pairs(schema)
        for k in key_columns:
            schema.field(k)  # validate keys exist
        if bucket_columns is not None:
            missing = [c for c in bucket_columns if c not in key_columns]
            if missing:
                raise ValueError(
                    f"bucket_columns must be a subset of key_columns; extra: {missing}"
                )
            if not bucket_columns:
                raise ValueError("bucket_columns must be non-empty when given")
        t = cls(spark, path)
        os.makedirs(t._meta_dir, exist_ok=False)
        os.makedirs(os.path.join(t.path, "data"), exist_ok=True)
        root = cls._new_root(
            version=1,
            parent=None,
            key_columns=list(key_columns),
            bucket_columns=list(bucket_columns) if bucket_columns else list(key_columns),
            n_buckets=int(n_buckets),
            schema_version=1,
            schemas={"1": schema.to_json()},
            schema_lsn=-1,
        )
        t._write_snapshot(Snapshot(t, root))
        return t

    @staticmethod
    def _new_root(**fields) -> dict:
        """A v2 root with no files and no commits, plus ``fields``."""
        return {
            "format_version": FORMAT_VERSION,
            **fields,
            "chunk_buckets": CHUNK_BUCKETS,
            "chunks": {},
            "log": {"head": None, "sealed": 0},
            "tail": [],
            "index": {},
            "high_lsn": None,
            "high_ts": None,
            "purge_version": None,
            "rollbacks": [],
        }

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> LakeTable:
        t = cls(spark, path)
        t.snapshot()  # raises if missing
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, "_meta", "CURRENT"))

    # ------------------------------------------------------------------
    # snapshot I/O
    # ------------------------------------------------------------------
    def current_version(self) -> int:
        with open(os.path.join(self._meta_dir, "CURRENT")) as f:
            return int(f.read().strip())

    def _root_path(self, version: int) -> str:
        return os.path.join(self._meta_dir, f"v{version:08d}.json")

    def piece_path(self, name: str) -> str:
        return os.path.join(self._meta_dir, _PIECE_DIRS[name[0]], name)

    def _read_piece(self, name: str) -> dict:
        body = self._pieces.get(name)
        if body is None:
            with open(self.piece_path(name)) as f:
                body = json.load(f)
            self._pieces[name] = body
        return body

    def _read_root(self, version: int) -> Snapshot:
        with open(self._root_path(version)) as f:
            root = json.load(f)
        if root.get("format_version", 1) < 2:
            return self._from_v1(root)
        return Snapshot(self, root)

    def _from_v1(self, old: dict) -> Snapshot:
        """Convert a format-v1 root (every file entry and every commit
        inline) into the v2 model. Its chunks and segments stay pending in
        memory and are written by the next commit built on it."""
        root = self._new_root(
            version=old["version"],
            parent=old["parent"],
            key_columns=old["key_columns"],
            # tables created before the option existed bucket by the full key
            bucket_columns=old.get("bucket_columns") or old["key_columns"],
            n_buckets=old["n_buckets"],
            schema_version=old["schema_version"],
            schemas=old["schemas"],
            schema_lsn=old["schema_lsn"],
        )
        snap = Snapshot(self, root)
        snap.set_files(old["files"], replace_all=True)
        for c in old["commits"]:
            snap.append_commit(c, stamp=False)
        # v1 records no commit's version; a purging compaction records the
        # version it started from and commits the next one
        root["purge_version"] = max(
            (c["epoch"] + 1 for c in old["commits"] if c.get("purged_tombstones")),
            default=None,
        )
        return snap

    def snapshot(self) -> Snapshot:
        v = self.current_version()
        if self._current is None or self._current.root["version"] != v:
            self._current = self._read_root(v)
        return self._current

    def snapshot_at(self, version: int) -> Snapshot:
        """Any historical snapshot — they are immutable (time travel)."""
        if self._current is not None and self._current.root["version"] == version:
            return self._current
        return self._read_root(version)

    def _write_snapshot(self, snap: Snapshot) -> None:
        root = snap.root
        v = root["version"]
        # pieces first, so no root ever names a piece that is not on disk
        live = set(root["chunks"].values())
        name = root["log"]["head"]
        while name in snap.pending:
            live.add(name)
            name = snap.pending[name]["prev"]
        written = {n: body for n, body in snap.pending.items() if n in live}
        for n, body in written.items():
            path = self.piece_path(n)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            try:
                _create_excl(path, json.dumps(body, separators=(",", ":")))
            except FileExistsError:
                pass  # names are unique: a sibling draft of one v1 load wrote it
        try:
            _create_excl(self._root_path(v), json.dumps(root, separators=(",", ":")))
        except FileExistsError as e:
            raise CommitConflict(f"version {v} already committed at {self.path}") from e
        tmp = os.path.join(self._meta_dir, f".CURRENT.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(v))
        os.rename(tmp, os.path.join(self._meta_dir, "CURRENT"))
        if any(n.startswith("m") for n in written):
            # chunks churn with data writes: keep only the live ones cached
            for n in list(self._pieces):
                if n.startswith("m") and n not in live:
                    self._pieces.pop(n, None)
        self._pieces.update(written)
        snap.pending = {}
        self._current = snap

    def _next_snapshot(self) -> Snapshot:
        """Draft of the next version: a shallow copy of the current root
        (no deep copy — the draft's mutators replace containers)."""
        cur = self.snapshot()
        v = cur.root["version"]
        return Snapshot(self, dict(cur.root, version=v + 1, parent=v), dict(cur.pending))

    # ------------------------------------------------------------------
    # schema accessors
    # ------------------------------------------------------------------
    @property
    def schema(self) -> TableSchema:
        return self.snapshot().schema

    def schema_at(self, version: int) -> TableSchema:
        return TableSchema.from_json(self.snapshot()["schemas"][str(version)])

    @property
    def key_columns(self) -> list[str]:
        return list(self.snapshot()["key_columns"])

    @property
    def bucket_columns(self) -> list[str]:
        return list(self.snapshot()["bucket_columns"])

    @property
    def n_buckets(self) -> int:
        return self.snapshot()["n_buckets"]

    @property
    def schema_lsn(self) -> int:
        return self.snapshot()["schema_lsn"]

    def bucket_expr(
        self,
        n_buckets: int | None = None,
        bucket_columns: list[str] | None = None,
    ) -> F.Column:
        """Hash-bucket of the bucket columns (default: the key columns);
        the physical partitioning unit. Both overrides serve the rebucket
        path, which must hash by the NEW spec before the snapshot records
        it."""
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in (bucket_columns or self.bucket_columns)]),
            F.lit(n_buckets if n_buckets is not None else self.n_buckets),
        )

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def files(self, buckets: list[int] | None = None) -> list[dict]:
        return self.snapshot().files(buckets)

    def _empty_df(self, include_meta: bool, schema: TableSchema | None = None) -> DataFrame:
        struct = (schema or self.schema).to_struct()
        if include_meta:
            for n, t in META_FIELDS:
                struct = struct.add(T.StructField(n, spark_type(t), True))
        return self.spark.createDataFrame([], struct)

    def read(
        self,
        include_meta: bool = False,
        buckets: list[int] | None = None,
        version: int | None = None,
        stat_filter: tuple | None = None,
    ) -> DataFrame:
        """Snapshot scan with manifest-level bucket pruning.

        ``version`` time-travels: the scan uses that immutable snapshot's
        file list AND schema (older commits are never rewritten, so any
        historical state is reproducible — the audit/debug primitive a CDC
        sink needs).

        Files written under older schema versions are projected to the
        snapshot's schema by field id (rename = alias, widen = cast, added
        column = null). If the snapshot contains merge-on-read delta files,
        the scan resolves last-writer-wins per key over base+delta rows
        (max ``_lsn``, delta preferred on ties). Logical reads hide
        metadata columns and tombstones.
        """
        snap = self.snapshot() if version is None else self.snapshot_at(version)
        files = snap.files(buckets)
        cur = snap.schema
        key_columns = snap["key_columns"]
        if stat_filter is not None:
            # manifest-level range pruning over the per-file col_stats a
            # sorted compaction recorded (``stat_filter=(col, lo, hi)``,
            # either bound may be None). Exactness rules:
            #  * files without stats for the column are kept (safe);
            #  * buckets holding DELTA files are exempt entirely — the LWW
            #    winner may sit in a delta outside the range, and pruning
            #    its base row's competitor could resurrect stale state;
            #  * the row-level predicate is ALWAYS applied after the scan,
            #    so results are exact whether or not any file was pruned.
            # Stats are recorded under the FILE's column name at write time;
            # map the current name back per schema version by field id.
            sf_col, sf_lo, sf_hi = stat_filter
            cur_field = cur.field(sf_col)
            name_by_sv: dict[int, str | None] = {}
            delta_buckets = {f["bucket"] for f in files if f.get("kind") == "delta"}

            def _keep(f):
                if f["bucket"] in delta_buckets:
                    return True
                sv = f["schema_version"]
                if sv not in name_by_sv:
                    old = TableSchema.from_json(snap["schemas"][str(sv)]).field_by_id(
                        cur_field.id
                    )
                    name_by_sv[sv] = old.name if old is not None else None
                cs = (f.get("col_stats") or {}).get(name_by_sv[sv])
                if cs is None:
                    return True
                fmin, fmax = cs
                if sf_lo is not None and fmax < sf_lo:
                    return False
                if sf_hi is not None and fmin > sf_hi:
                    return False
                return True

            files = [f for f in files if _keep(f)]
        has_deltas = any(f.get("kind") == "delta" for f in files)
        if not files:
            df = self._empty_df(include_meta=True, schema=cur)
        else:
            by_group: dict[tuple[int, bool], list[str]] = {}
            for f in files:
                key = (f["schema_version"], f.get("kind") == "delta")
                by_group.setdefault(key, []).append(os.path.join(self.path, f["path"]))
            parts = []
            for (sv, is_delta), paths in sorted(by_group.items()):
                old = TableSchema.from_json(snap["schemas"][str(sv)])
                file_struct = old.to_struct()
                for n, t in META_FIELDS:
                    file_struct = file_struct.add(T.StructField(n, spark_type(t), True))
                raw = self.spark.read.schema(file_struct).parquet(*paths)
                cols = cur.project_from(old) + [F.col(n) for n in META_NAMES]
                cols.append(F.lit(is_delta).alias("_is_delta"))
                parts.append(raw.select(*cols))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            if has_deltas:
                # merge-on-read resolution: one winner per key by (lsn, delta)
                keys = key_columns
                payload = [c for c in df.columns if c not in keys]
                order = F.struct(
                    F.coalesce(F.col("_lsn"), F.lit(-1)), F.col("_is_delta")
                )
                df = (
                    df.groupBy(*keys)
                    .agg(F.max_by(F.struct(*payload), order).alias("_w"))
                    .select(*keys, *[F.col(f"_w.{c}").alias(c) for c in payload])
                )
            df = df.drop("_is_delta")
        if stat_filter is not None:
            sf_col, sf_lo, sf_hi = stat_filter
            pred = F.lit(True)
            if sf_lo is not None:
                pred = pred & (F.col(sf_col) >= F.lit(sf_lo))
            if sf_hi is not None:
                pred = pred & (F.col(sf_col) <= F.lit(sf_hi))
            df = df.filter(pred)
        if not include_meta:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(*META_NAMES)
        return df

    def lookup(self, key_values: dict, version: int | None = None) -> DataFrame:
        """Point lookup: manifest-prunes to the ONE hash bucket the key's
        bucket columns select, then filters inside it — O(bucket) work no
        matter the table size, the read-side payoff of hash-bucketed
        layout. ``key_values`` must cover at least the bucket columns;
        extra key columns tighten the filter. Equality-only (the bucket
        function is a hash).

        Each literal is cast to the column's type in the pinned snapshot
        before hashing: ``xxhash64`` of an int literal differs from that of
        the same value as a long, so an uncast ``7`` would pick the wrong
        bucket of a ``long`` key."""
        snap = self.snapshot() if version is None else self.snapshot_at(version)
        schema = snap.schema
        bcols = snap["bucket_columns"]
        missing = [c for c in bcols if c not in key_values]
        if missing:
            raise ValueError(
                f"lookup needs every bucket column; missing: {missing}"
            )

        def lit(c):
            return F.lit(key_values[c]).cast(spark_type(schema.field(c).type))

        one = self.spark.range(1).select(
            F.pmod(F.xxhash64(*[lit(c) for c in bcols]), F.lit(snap["n_buckets"])).alias("b")
        )
        bucket = int(one.first()["b"])
        df = self.read(buckets=[bucket], version=version)
        for c in key_values:
            df = df.filter(F.col(c) == lit(c))
        return df

    def high_lsn(self, version: int | None = None) -> int:
        """Highest change LSN covered by a snapshot's commit manifests
        (a default bootstrap stamps ``_lsn=0``; ``--snapshot-lsn L`` stamps
        L and its bootstrap commit records the bounds so the watermark
        starts at the snapshot position; maintenance commits carry no
        LSN)."""
        snap = self.snapshot() if version is None else self.snapshot_at(version)
        return snap.high_lsn()

    def high_ts(self, version: int | None = None) -> float | None:
        """Highest event time (epoch seconds) covered by a snapshot's commit
        manifests — the stream-level late-data high-water mark the
        quarantine threshold advances against."""
        snap = self.snapshot() if version is None else self.snapshot_at(version)
        return snap["high_ts"]

    def read_changes(self, since_version: int, version: int | None = None) -> DataFrame:
        """Incremental change scan: the net per-key changes committed AFTER
        ``since_version`` — the table acting as a CDC *source* (the lake
        analogue of an Iceberg incremental snapshot scan, SURVEY.md §2.1),
        so one engine's sink can feed another engine's replay.

        Returns the engine's event shape: one row per changed key with
        ``op`` ('U' upsert row image / 'D' delete) and ``lsn``. Exactness
        does not depend on file layout: only files added since the old
        snapshot are scanned (manifest diff — copy-on-write bucket rewrites
        and compactions re-add old rows, but those carry ``_lsn`` at or
        below the old snapshot's high-water mark and are filtered), then
        LWW-reduced per key.

        Contract: source LSNs must be monotone across commits (the WAL
        property) — a later commit applying an LSN below an earlier
        commit's high-water mark would be filtered as already-seen.

        The emitted rows carry the FULL engine event envelope so the feed
        replays directly (``apply_batch`` / ``replay_stream``): ``ts`` is a
        synthetic event time derived from the LSN (``timestamp_micros(lsn)``
        — monotone, so watermarked stream dedup behaves; the table does not
        store wall-clock change times), and ``schema_change`` is always
        NULL — schema evolution propagates via snapshot schemas, not the
        row feed.
        """
        # pin ONE version for the manifest diff, the scan AND the output
        # projection — a concurrent commit (data or schema) between reads
        # must not silently drop rows or reference columns the pinned scan
        # lacks. Callers that compose multiple reads (``changelog``) pass
        # ``version`` so every read shares one pin.
        cur_version = self.current_version() if version is None else int(version)
        cur_snap = self.snapshot_at(cur_version)
        old = self.snapshot_at(since_version)
        added = self._added_after(old, cur_snap)
        # a rollback between the snapshots to a version BELOW since_version
        # rewound state the consumer has already seen — net-change semantics
        # cannot represent un-happening, so raise. A rollback to
        # since_version or later undid only versions the consumer never
        # saw, and the diff against the restored file list is exact. (The
        # latest crossing rollback's marker is always present: markers are
        # only removed by a rollback to an even earlier version, which
        # leaves its own, later marker.) Checked BEFORE the purge guard
        # below, whose root marker a rollback restores to the target's.
        rb = [
            m for m in cur_snap["rollbacks"]
            if m["at_version"] > since_version and m["rollback_to"] < since_version
        ]
        if rb:
            raise ValueError(
                f"read_changes(since_version={since_version}): the table was "
                f"rolled back to version {rb[-1]['rollback_to']} at version "
                f"{rb[-1]['at_version']}; a net change feed cannot represent "
                "rewound state. Re-sync from the rolled-back version."
            )
        # a tombstone-purging compaction between the snapshots has DROPPED
        # delete markers this feed would otherwise emit as 'D' events —
        # surfacing silently-lossy feeds as an error beats returning one
        # (the root records the version of the last purge in its lineage)
        purged = cur_snap["purge_version"]
        if purged is not None and purged > since_version:
            raise ValueError(
                f"read_changes(since_version={since_version}): a tombstone-"
                "purging compaction committed after that version; delete "
                "events in the gap are unrecoverable. Run purging compaction "
                "only after every change-feed consumer has passed the "
                "tombstone LSNs."
            )
        # columns from the PINNED snapshot everywhere (including the empty
        # branch — self.schema would re-read CURRENT and could race a
        # concurrent schema-evolving commit)
        pinned_schema = cur_snap.schema
        wm = old.high_lsn()
        if not added:
            base = self._empty_df(include_meta=True, schema=pinned_schema)
        else:
            # reuse the snapshot scanner on just the added files: cheapest
            # correct path is a full read restricted to the added files'
            # buckets, then the LSN filter; buckets not present in `added`
            # cannot contain post-watermark rows
            bset = sorted({f["bucket"] for f in added})
            base = self.read(include_meta=True, buckets=bset, version=cur_version)
        changed = base.filter(F.col("_lsn") > F.lit(wm))
        op = F.when(F.coalesce(F.col("_deleted"), F.lit(False)), F.lit("D")).otherwise(F.lit("U"))
        cols = [f.name for f in pinned_schema.fields]
        return changed.select(
            F.col("_lsn").alias("lsn"),
            F.timestamp_micros(F.col("_lsn")).alias("ts"),
            op.alias("op"),
            *[F.col(c) for c in cols],
            F.lit(None).cast("string").alias("schema_change"),
        )

    @staticmethod
    def _added_after(old: Snapshot, cur: Snapshot) -> list[dict]:
        """Files in ``cur`` and not in ``old`` that may hold rows above the
        old watermark. A file whose footer-derived lsn_max is at or below
        it can only contain re-added rows (copy-on-write rewrites,
        compactions) and is skipped unscanned; files with unknown stats stay
        in (safe) — the row-level ``_lsn`` filter is still the correctness
        gate either way."""
        wm = old.high_lsn()
        return [
            f for f in cur.added_since(old)
            if f.get("lsn_max") is None or f["lsn_max"] > wm
        ]

    def changelog(self, since_version: int, version: int | None = None) -> DataFrame:
        """Pre/post-image changelog between a past snapshot and now — the
        Iceberg ``create_changelog_view`` analogue, built entirely from the
        net change feed plus a bucket-pruned before-image scan.

        One row per net-changed key: the key columns, ``op`` ('I' insert /
        'U' update / 'D' delete — classified against the key's visibility
        at ``since_version``), the change ``lsn``, and ``before_<col>`` /
        ``after_<col>`` images of every non-key column. Inserts carry NULL
        before-images, deletes NULL after-images; keys that were created
        AND deleted inside the window never became visible and are omitted.

        Scale shape: the after side is ``read_changes`` (manifest-diff +
        LSN pruned), the before side reads ONLY the buckets the diff
        touched at the old version, and the two meet in one equi-join on
        the key columns — cost ∝ changed data, never table size. Both
        sides are projected to the PINNED end snapshot's schema by field
        id, so renames and widenings between the two versions don't fork
        column names.

        ``version`` pins the END of the window (default: current) — the
        changelog between any two historical snapshots, for audit replay.
        Raises ValueError when the bucket spec (count or columns) differs
        between the two ends: the before-image bucket ids would be wrong.
        """
        cur_version = self.current_version() if version is None else int(version)
        cur_snap = self.snapshot_at(cur_version)
        old_snap = self.snapshot_at(since_version)
        # the before-image buckets below are the END spec's; read under a
        # different START spec they would miss the key's old row and turn
        # an update into an insert — refuse, the caller rebuilds instead
        spec = [(s["n_buckets"], s["bucket_columns"]) for s in (old_snap, cur_snap)]
        if spec[0] != spec[1]:
            raise ValueError(
                f"changelog(since_version={since_version}): the bucket spec "
                f"changed inside the window ({spec[0]} -> {spec[1]}); "
                "rebuild from a full read at the end version."
            )
        changes = self.read_changes(since_version, version=cur_version)
        # same manifest diff read_changes prunes with: buckets untouched
        # since the old snapshot cannot hold a changed key's before-image
        bset = sorted(
            {f["bucket"] for f in self._added_after(old_snap, cur_snap)}
        )
        cur_schema = cur_snap.schema
        before = self.read(buckets=bset, version=since_version).select(
            *cur_schema.project_from(old_snap.schema)
        )
        keys = list(cur_snap["key_columns"])
        payload = [f for f in cur_schema.fields if f.name not in keys]
        b = before.select(
            *[F.col(k).alias(f"_before_{k}") for k in keys],
            *[F.col(f.name).alias(f"before_{f.name}") for f in payload],
            F.lit(True).alias("_had_before"),
        )
        a = changes.select(
            *keys,
            F.col("lsn"),
            F.col("op"),
            *[F.col(f.name).alias(f"after_{f.name}") for f in payload],
        )
        # null-safe on the keys, as the merge matches them: a NULL key is
        # one row, and plain equality would turn its update into an insert
        # and drop its delete
        j = a.join(
            b, [F.col(k).eqNullSafe(F.col(f"_before_{k}")) for k in keys], "left"
        )
        had = F.coalesce(F.col("_had_before"), F.lit(False))
        # a delete of a never-visible key is not an observable change
        j = j.filter(~((F.col("op") == "D") & ~had))
        return j.select(
            *keys,
            F.when(F.col("op") == "D", F.lit("D"))
            .when(had, F.lit("U"))
            .otherwise(F.lit("I"))
            .alias("op"),
            F.col("lsn"),
            *[F.col(f"before_{f.name}") for f in payload],
            *[
                F.when(
                    F.col("op") == "D",
                    F.lit(None).cast(spark_type(f.type)),
                )
                .otherwise(F.col(f"after_{f.name}"))
                .alias(f"after_{f.name}")
                for f in payload
            ],
        )

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------
    def _prepare_write(self, df: DataFrame) -> DataFrame:
        """Order/complete columns to the current physical layout (+meta)."""
        cur = self.schema
        cols = []
        for f in cur.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(spark_type(f.type)).alias(f.name))
            else:
                cols.append(F.lit(None).cast(spark_type(f.type)).alias(f.name))
        for n, t in META_FIELDS:
            if n in df.columns:
                cols.append(F.col(n).cast(spark_type(t)).alias(n))
            else:
                dflt = F.lit(False) if n == "_deleted" else F.lit(None)
                cols.append(dflt.cast(spark_type(t)).alias(n))
        return df.select(*cols)

    def _write_data_files(
        self, df: DataFrame, commit_dir: str, kind: str = "base",
        n_buckets: int | None = None, bucket_columns: list[str] | None = None,
        sort_by: list[str] | None = None, range_files: int = 1,
        stat_columns: list[str] | None = None,
    ) -> list[dict]:
        """Write df into data/<commit_dir>/_bucket=*/ and return file entries.
        ``n_buckets`` / ``bucket_columns`` override the snapshot's bucket
        spec (the rescale/rebucket path).

        ``sort_by`` clusters each bucket's rows on those columns; with
        ``range_files > 1`` the bucket additionally RANGE-SPLITS into that
        many files with disjoint sort-key ranges (ntile within the bucket)
        — the Iceberg sort-order analogue. Combined with the per-file
        min/max stats recorded below, range predicates then prune at the
        manifest level (``read(stat_filter=...)``) before any scan."""
        out_dir = os.path.join(self.path, "data", commit_dir)
        staged = self._prepare_write(df).withColumn(
            "_bucket", self.bucket_expr(n_buckets, bucket_columns)
        )
        # one shuffle keyed by bucket so each bucket's rows land contiguously;
        # at cluster scale this is the co-partitioning the MERGE join reuses.
        # Width > cores: with exactly `cores` partitions the 64 bucket values
        # hash-collide unevenly (binomial) and the worst task strides the
        # whole write stage; 4x cores keeps ≤2 buckets per task
        n_buckets = int(n_buckets if n_buckets is not None else self.snapshot()["n_buckets"])
        width = min(n_buckets, 4 * self.spark.sparkContext.defaultParallelism)
        if sort_by:
            order = [F.col(c) for c in sort_by]
            if range_files > 1:
                # range partitioning on (_bucket, sort keys): every task
                # partition holds a CONTIGUOUS (bucket, key) span, so each
                # bucket's files get disjoint sort-key ranges by
                # construction (a hash shuffle on an ntile would merge
                # non-adjacent tiles into one file and overlap the ranges)
                parts = min(n_buckets * int(range_files), 4096)
                staged = staged.repartitionByRange(
                    parts, F.col("_bucket"), *order
                ).sortWithinPartitions("_bucket", *order)
            else:
                staged = staged.repartition(width, F.col("_bucket")) \
                               .sortWithinPartitions("_bucket", *order)
        else:
            staged = staged.repartition(width, F.col("_bucket"))
        staged.write.mode("errorifexists").partitionBy("_bucket").parquet(out_dir)
        sv = self.snapshot()["schema_version"]
        paths = sorted(glob.glob(os.path.join(out_dir, "_bucket=*", "*.parquet")))
        # stats recorded for the sort columns (disjoint ranges — the primary
        # pruning key) plus any extra stat_columns the caller asks for
        # (overlapping per file, still prunable when values correlate)
        stat_cols = list(dict.fromkeys([*(sort_by or []), *(stat_columns or [])]))

        def _plain(v):
            # manifest entries are JSON: keep only portable scalar stats
            if isinstance(v, bool) or v is None:
                return None
            if isinstance(v, (int, float, str)):
                return v
            try:
                import numpy as _np

                if isinstance(v, _np.generic):
                    return v.item()
            except Exception:
                pass
            return None

        def footer_stats(p: str):
            """(rows, lsn_min, lsn_max, {col: [min, max]}) from the parquet
            footer — zero extra jobs: row-group column statistics already
            carry min/max, giving the manifest Iceberg-style per-file value
            ranges (the data-skipping primitive ``read_changes`` and
            ``stat_filter`` prune with)."""
            md = pq.ParquetFile(p).metadata
            name_to_idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }

            def col_range(name):
                idx = name_to_idx.get(name)
                if idx is None:
                    return None, None
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        return None, None
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                return lo, hi

            lsn_lo, lsn_hi = col_range("_lsn")
            col_stats = {}
            for c in stat_cols:
                lo, hi = col_range(c)
                lo, hi = _plain(lo), _plain(hi)
                if lo is not None and hi is not None:
                    col_stats[c] = [lo, hi]
            return md.num_rows, lsn_lo, lsn_hi, col_stats

        # footer reads are per-file driver I/O — overlap them (64+ buckets
        # per commit would otherwise serialize into ~1s of epoch latency)
        with ThreadPoolExecutor(max_workers=min(16, max(len(paths), 1))) as ex:
            stats = list(ex.map(footer_stats, paths))
        entries = []
        for p, (rows, lsn_lo, lsn_hi, col_stats) in zip(paths, stats):
            bucket = int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
            if rows == 0:
                continue
            entry = {
                "path": os.path.relpath(p, self.path),
                "bucket": bucket,
                "rows": rows,
                "schema_version": sv,
                "lsn_min": lsn_lo,
                "lsn_max": lsn_hi,
            }
            if col_stats:
                entry["col_stats"] = col_stats
            if kind != "base":
                entry["kind"] = kind
            entries.append(entry)
        return entries

    def append(self, df: DataFrame, commit: dict | None = None) -> dict:
        snap = self._next_snapshot()
        entries = self._write_data_files(df, f"c{snap['version']:08d}-{uuid.uuid4().hex[:8]}")
        snap.set_files(entries)
        if commit:
            snap.append_commit(self._fill_lsn_bounds(commit, entries))
        self._write_snapshot(snap)
        return {"files_added": len(entries), "rows": sum(e["rows"] for e in entries),
                "entries": entries}

    @staticmethod
    def _fill_lsn_bounds(commit: dict, entries: list[dict]) -> dict:
        """Default a commit's lsn_min/lsn_max from the written files' footer
        stats (already collected — no extra job): append-path producers that
        carry ``_lsn`` (e.g. the SCD2 version store) then advance
        ``high_lsn()``, which ``read_changes`` relies on to prune
        compaction-re-added rows. Callers that precompute bounds (the merge
        path) are left untouched."""
        if "lsn_max" in commit:
            return commit
        los = [e["lsn_min"] for e in entries if e.get("lsn_min") is not None]
        his = [e["lsn_max"] for e in entries if e.get("lsn_max") is not None]
        if not his:
            return commit
        return dict(commit, lsn_min=min(los) if los else None, lsn_max=max(his))

    def append_delta(self, df: DataFrame, commit: dict | None = None) -> dict:
        """Merge-on-read write path: append a per-key-unique delta batch
        (rows carry ``_lsn``; deletes as ``_deleted=true`` tombstone rows)
        WITHOUT reading or rewriting the base — O(batch) work. Readers
        resolve LWW at scan time; ``compact()`` folds deltas back into base
        files. This is the Iceberg-v2 MOR trade: maximum ingest throughput,
        read cost deferred to scan/compaction."""
        snap = self._next_snapshot()
        entries = self._write_data_files(
            df, f"d{snap['version']:08d}-{uuid.uuid4().hex[:8]}", kind="delta"
        )
        snap.set_files(entries)
        if commit:
            snap.append_commit(self._fill_lsn_bounds(commit, entries))
        self._write_snapshot(snap)
        return {"files_added": len(entries), "rows": sum(e["rows"] for e in entries)}

    def delta_file_count(self, buckets: list[int] | None = None) -> int:
        return sum(1 for f in self.files(buckets) if f.get("kind") == "delta")

    def replace_buckets(
        self, buckets: list[int], df: DataFrame, commit: dict | None = None,
        sort_by: list[str] | None = None, range_files: int = 1,
        stat_columns: list[str] | None = None,
    ) -> dict:
        """Copy-on-write swap: new files for `buckets`, other buckets untouched."""
        bset = set(int(b) for b in buckets)
        snap = self._next_snapshot()
        entries = self._write_data_files(
            df, f"c{snap['version']:08d}-{uuid.uuid4().hex[:8]}",
            sort_by=sort_by, range_files=range_files, stat_columns=stat_columns,
        )
        bad = [e for e in entries if e["bucket"] not in bset]
        if bad:
            raise ValueError(f"write produced rows outside affected buckets: {bad[:3]}")
        snap.set_files(entries, drop_buckets=bset)
        if commit:
            snap.append_commit(commit)
        self._write_snapshot(snap)
        return {
            "files_added": len(entries),
            "rows": sum(e["rows"] for e in entries),
            "buckets_rewritten": sorted(bset),
        }

    # ------------------------------------------------------------------
    # schema evolution (transactional DDL)
    # ------------------------------------------------------------------
    def update_schema(self, change: dict, schema_lsn: int, commit: dict | None = None) -> bool:
        """Apply a CDC schema-change payload as a new schema version.

        Returns False (no-op) when ``schema_lsn`` was already applied —
        the DDL analogue of the commit-manifest skip, which makes epoch
        replay after a crash safe (SURVEY.md §7.4 M4 sequencing).
        """
        if schema_lsn <= self.schema_lsn:
            return False
        if change.get("action") == "drop":
            col = change.get("column")
            protected = set(self.key_columns) | set(self.bucket_columns)
            if col in protected:
                raise SchemaEvolutionError(
                    f"cannot drop {col!r}: it is a key/bucket column — row "
                    "identity and physical placement depend on it"
                )
        snap = self._next_snapshot()
        root = snap.root
        new = snap.schema.apply_change(change)
        root["schema_version"] += 1
        root["schemas"] = {**root["schemas"], str(root["schema_version"]): new.to_json()}
        root["schema_lsn"] = int(schema_lsn)
        if commit:
            snap.append_commit(commit)
        self._write_snapshot(snap)
        return True

    # ------------------------------------------------------------------
    # commit manifests (exactly-once)
    # ------------------------------------------------------------------
    def commits(self) -> list[dict]:
        """Every commit record, oldest first (reads every log segment)."""
        return list(self.snapshot().commits())

    def add_commit(self, commit: dict) -> None:
        """Metadata-only commit (e.g. an epoch-done marker): no data change.
        Writes the root only, plus one segment each time the tail fills."""
        snap = self._next_snapshot()
        snap.append_commit(commit)
        self._write_snapshot(snap)

    def has_commit(self, run_id: str, epoch: int, seq: int = 0) -> bool:
        """Reference parity: committed tasks are skipped on resume
        (ReuseInputExecutorPlugin.scala:61-64, LoaderState.scala:111-120).
        A range check on the root's exactly-once index."""
        return self.snapshot().has_commit(run_id, epoch, seq)

    def source_version(self) -> int | None:
        """The source-table version a derived table (a materialized SCD2
        or aggregate view) reflects: the ``store_version`` of its newest
        commit that carries one, or None. The root's inline tail answers
        unless later maintenance commits (compaction, rollback markers)
        pushed that record into a sealed segment; only then are segments
        read, newest first. Newest, not largest: a view rebuilt after its
        source rolled back records a lower version than before."""
        snap = self.snapshot()
        logs = chain([snap.root["tail"]], (snap.piece(n)["commits"] for n in snap.segment_names()))
        for log in logs:
            for c in reversed(log):
                if "store_version" in c:
                    return c["store_version"]
        return None

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def compact(
        self,
        buckets: list[int] | None = None,
        purge_tombstones: bool = False,
        max_files_per_bucket: int = 1,
        min_delta_files: int = 1,
        sort_by: list[str] | None = None,
        files_per_bucket_out: int = 1,
        stat_columns: list[str] | None = None,
    ) -> dict:
        """Rewrite fragmented buckets (small-file compaction) and optionally
        drop tombstones — safe once (a) every producer's watermark has
        passed the tombstone LSNs (a purged tombstone can no longer shield
        against a late lower-LSN insert) AND (b) every ``read_changes``
        consumer has passed them too (the purge erases the row a 'D' event
        would be derived from; ``read_changes`` detects a purging compaction
        in its gap and raises rather than silently dropping deletes). The
        Iceberg-maintenance analogue; at scale this runs as a background job
        per bucket range.

        ``min_delta_files`` defers delta folding until a bucket has
        accumulated that many delta files — at 10^5+ buckets an epoch
        leaves ONE small delta in most touched buckets, and folding after
        every epoch would rewrite each touched bucket's base for one
        delta's worth of rows; the read-side merge-on-read view stays
        correct at any delta depth, so deferral trades read amplification
        for write amplification on the operator's own terms. (The default 1
        keeps the historical fold-everything behavior; purge_tombstones
        still forces every bucket — a purge must not leave shielded
        tombstones behind in skipped buckets.)

        ``sort_by`` requests a SORT-ORDERED rewrite (Iceberg sort-order
        analogue): every in-scope bucket is rewritten (a clustering request
        overrides the fragmentation thresholds) with rows clustered on the
        sort columns; ``files_per_bucket_out > 1`` range-splits each bucket
        into files with disjoint sort-key ranges. The write records
        per-file min/max ``col_stats`` for the sort columns, which
        ``read(stat_filter=(col, lo, hi))`` then prunes at the manifest
        level — range scans over a CDC sink (time windows, commit ranges)
        stop paying for the whole bucket."""
        # the two knobs are orthogonal: max_files_per_bucket measures BASE
        # fragmentation, min_delta_files measures delta depth — counting a
        # delta against the base threshold would re-trigger the fold the
        # deferral knob just skipped
        base_counts: dict[int, int] = {}
        delta_counts: dict[int, int] = {}
        for f in self.files(buckets):
            kind = delta_counts if f.get("kind") == "delta" else base_counts
            kind[f["bucket"]] = kind.get(f["bucket"], 0) + 1
        targets = sorted(
            b
            for b in set(base_counts) | set(delta_counts)
            if base_counts.get(b, 0) > max_files_per_bucket
            or purge_tombstones
            or sort_by is not None
            or delta_counts.get(b, 0) >= max(min_delta_files, 1)
        )
        if not targets:
            return {"buckets_compacted": [], "files_before": 0}
        files_before = len(self.files(targets))
        df = self.read(include_meta=True, buckets=targets)
        if purge_tombstones:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        commit = {"run_id": "__compaction__", "epoch": self.current_version(), "seq": 0}
        if purge_tombstones:
            commit["purged_tombstones"] = True  # read_changes poison marker
        if sort_by:
            commit["sort_by"] = list(sort_by)
        res = self.replace_buckets(
            targets, df, commit=commit,
            sort_by=sort_by, range_files=files_per_bucket_out,
            stat_columns=stat_columns,
        )
        return {
            "buckets_compacted": targets,
            "files_before": files_before,
            "files_after": res["files_added"],
            "rows": res["rows"],
        }

    def rescale_buckets(
        self,
        new_n_buckets: int | None = None,
        new_bucket_columns: list[str] | None = None,
    ) -> dict:
        """Rewrite the whole table under a new bucket SPEC — count and/or
        columns (Iceberg partition-spec evolution). The count is the knob a
        growing table turns when its buckets get too coarse (a 100 TB table
        wants thousands of buckets; a fresh one wants dozens); the columns
        change when access patterns shift (e.g. a (repo, path)-keyed table
        rebucketted by (repo) alone so per-repo scans and history rewrites
        prune to one bucket). New bucket columns must remain a subset of
        the key columns — the bucket-pruned MERGE invariant.

        One shuffle of the full data keyed by the NEW bucket function;
        merge-on-read deltas are folded in (the scan resolves LWW) and
        tombstones are preserved, so CDC semantics are unchanged. Atomic:
        readers see either the old spec or the new one; concurrent writers
        lose the snapshot race and retry (CommitConflict). At cluster scale
        this is the same background job shape as a full compaction."""
        if new_n_buckets is None and new_bucket_columns is None:
            raise ValueError("give new_n_buckets, new_bucket_columns, or both")
        new_n_buckets = int(new_n_buckets if new_n_buckets is not None else self.n_buckets)
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        if new_bucket_columns is not None:
            keys = self.key_columns
            bad = [c for c in new_bucket_columns if c not in keys]
            if bad:
                raise ValueError(
                    f"bucket columns must be a subset of key columns; extra: {bad}"
                )
            if not new_bucket_columns:
                raise ValueError("new_bucket_columns must be non-empty")
        df = self.read(include_meta=True)
        snap = self._next_snapshot()
        entries = self._write_data_files(
            df,
            f"r{snap['version']:08d}-{uuid.uuid4().hex[:8]}",
            n_buckets=new_n_buckets,
            bucket_columns=new_bucket_columns,
        )
        root = snap.root
        root["n_buckets"] = new_n_buckets
        if new_bucket_columns is not None:
            root["bucket_columns"] = list(new_bucket_columns)
        snap.set_files(entries, replace_all=True)  # every row was rewritten
        snap.append_commit({
            "run_id": "__rescale__",
            "epoch": root["version"],
            "seq": 0,
            "n_buckets": new_n_buckets,
            "bucket_columns": root["bucket_columns"],
        })
        self._write_snapshot(snap)
        return {
            "n_buckets": new_n_buckets,
            "bucket_columns": list(snap["bucket_columns"]),
            "files": len(entries),
            "rows": sum(e["rows"] for e in entries),
        }

    def expire_snapshots(
        self,
        keep_last: int = 10,
        sweep_orphans: bool = False,
        orphan_grace_seconds: float = 3600.0,
    ) -> dict:
        """Iceberg-maintenance analogue of ``expire_snapshots`` + orphan
        file GC: drop snapshot metadata older than the newest ``keep_last``
        versions and delete data files referenced ONLY by expired snapshots
        (copy-on-write rewrites and compactions strand the files they
        replaced — without expiration the table's storage grows with write
        history, not data size).

        Crash-safety ordering: expired snapshot JSONs are removed FIRST,
        then their now-unreferenced data files — a crash in between leaves
        unreferenced files (cleaned by the next run's sweep), never a
        still-listed snapshot pointing at deleted files (which would break
        time travel to a listed version until a rerun).

        Metadata pieces follow the same rule: a manifest chunk or log
        segment that only expired roots reference is deleted with them.

        ``sweep_orphans`` additionally scans ``data/`` for files referenced
        by NO surviving snapshot — the leftovers of aborted commits
        (``_write_data_files`` runs before ``_write_snapshot``, so a
        CommitConflict loser's files are invisible to reference-diff GC) and
        of crashes inside this method — and ``_meta/`` for pieces no
        surviving root references (a crash or a losing committer writes its
        pieces before its root). Only files older than
        ``orphan_grace_seconds`` (mtime) are swept, so an IN-FLIGHT writer's
        not-yet-committed files are never deleted — same grace-window
        contract as Iceberg's remove_orphan_files.

        Time travel (``read(version=...)``) and incremental reads
        (``read_changes(since_version=...)``) below the horizon raise
        FileNotFoundError afterwards — run expiration only once every
        consumer's resume point has passed the horizon, same contract as
        tombstone purging. Exactly-once resume is unaffected: the current
        root's index answers ``has_commit`` and its log segments are kept."""
        if keep_last < 1:
            # keep_last=0 would place the horizon past CURRENT and delete
            # the live snapshot + every data file — refuse, don't truncate
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        cur = self.current_version()
        horizon = cur - keep_last + 1  # keep [horizon .. cur]
        expired: list[Snapshot] = []
        deleted = pieces_deleted = 0
        if horizon > 1:
            kept = [self.snapshot_at(v) for v in range(horizon, cur + 1)]
            expired = [
                self.snapshot_at(v) for v in range(1, horizon)
                # already expired by an earlier run (idempotent)
                if os.path.exists(self._root_path(v))
            ]
            kept_chunks, kept_refs = self._chunks_of(kept)
            dead_chunks, dead_refs = self._chunks_of(expired, skip=kept_chunks)
            dead_pieces = dead_chunks | self._segments_of(
                expired, stop=self._segments_of(kept)
            )
            # metadata first (see docstring ordering contract)
            for s in expired:
                os.remove(self._root_path(s["version"]))
            for name in dead_pieces:
                pieces_deleted += self._remove(self.piece_path(name))
            for rel in sorted(dead_refs - kept_refs):
                deleted += self._remove(os.path.join(self.path, rel))
        swept = pieces_swept = 0
        if sweep_orphans:
            live = [
                self.snapshot_at(int(name[1:-5]))
                for name in os.listdir(self._meta_dir)
                if name.startswith("v") and name.endswith(".json")
            ]
            live_chunks, live_refs = self._chunks_of(live)
            live_pieces = live_chunks | self._segments_of(live)
            cutoff = time.time() - orphan_grace_seconds
            for p in glob.glob(
                os.path.join(self.path, "data", "*", "_bucket=*", "*.parquet")
            ):
                if os.path.relpath(p, self.path) not in live_refs:
                    swept += self._remove(p, cutoff)
            for d in _PIECE_DIRS.values():
                for p in glob.glob(os.path.join(self._meta_dir, d, "*.json")):
                    if os.path.basename(p) not in live_pieces:
                        pieces_swept += self._remove(p, cutoff)
        return {
            "snapshots_expired": len(expired),
            "files_deleted": deleted,
            "pieces_deleted": pieces_deleted,
            "orphans_swept": swept,
            "pieces_swept": pieces_swept,
            "horizon": horizon,
        }

    @staticmethod
    def _remove(path: str, older_than: float | None = None) -> int:
        """Delete ``path`` (only if its mtime is before ``older_than``, when
        given — an in-flight commit's file is young); 1 if deleted."""
        try:
            if older_than is not None and os.path.getmtime(path) >= older_than:
                return 0
            os.remove(path)
            return 1
        except FileNotFoundError:
            return 0  # never written (a v1 root's pending piece) or concurrent cleanup

    @staticmethod
    def _chunks_of(snaps: list[Snapshot], skip=frozenset()) -> tuple[set[str], set[str]]:
        """Names of the chunks the snapshots reference (except ``skip``)
        and the data paths those chunks list; each chunk is read once."""
        names: set[str] = set()
        paths: set[str] = set()
        for s in snaps:
            for _, name in s.chunk_refs():
                if name not in names and name not in skip:
                    names.add(name)
                    paths.update(f["path"] for f in s.piece(name)["files"])
        return names, paths

    @staticmethod
    def _segments_of(snaps: list[Snapshot], stop=frozenset()) -> set[str]:
        """Log segments reachable from the snapshots' heads. A walk ends at
        a segment already seen or in ``stop``: its ancestors are too."""
        seen: set[str] = set()
        for s in snaps:
            for name in s.segment_names():
                if name in seen or name in stop:
                    break
                seen.add(name)
        return seen

    def rollback(self, to_version: int) -> dict:
        """Non-destructive rollback (the Iceberg ``rollback_to_snapshot``
        analogue): commit a NEW snapshot whose data state — file list,
        schema pointer, schema map, bucket layout — equals the target
        version's, leaving every intermediate snapshot intact for time
        travel and audit. No data file is touched; files added after the
        target stay on disk (still referenced by the pre-rollback
        snapshots) until ``expire_snapshots`` ages them out.

        A pointer operation: the new root takes the target's manifest chunks,
        commit log, exactly-once index and high-water marks, so the commit
        list is RESTORED to the target's list plus one ``kind='rollback'``
        marker. The commit records (and the root's index and marks built
        from them) are both the exactly-once registry and the LSN high-water
        mark, so keeping post-target records would make a resumed replay
        SKIP the very epochs the
        rollback undid (``has_commit`` hits, ``high_lsn`` stays high —
        permanent data loss); truncating them re-opens those (run, epoch)
        slots and regresses the watermark, so the corrected WAL range
        re-applies through the normal idempotent path.

        Consequence for change-feed consumers, enforced in
        ``read_changes``: a feed whose ``since_version`` predates a
        rollback and lies above its target raises — net-change semantics
        cannot represent un-happening (rows the consumer already saw are not
        deletes, they never happened). Consumers re-sync from the
        rolled-back state, the same contract as tombstone purges and
        snapshot expiration.
        """
        cur = self.current_version()
        if not 1 <= to_version < cur:
            raise ValueError(
                f"rollback target must be an earlier version: "
                f"to_version={to_version}, current={cur}"
            )
        target = self.snapshot_at(to_version)  # raises if expired
        snap = self._next_snapshot()
        # pointer operation: the target's pieces, index and marks, with the
        # target's unwritten pieces (a v1 target) carried along
        version, parent = snap.root["version"], snap.root["parent"]
        snap.root = dict(target.root, version=version, parent=parent)
        snap.pending = dict(target.pending)
        snap.append_commit({
            "kind": "rollback",
            "rollback_to": int(to_version),
            "rolled_back_from": cur,
            "at_version": version,
        })
        self._write_snapshot(snap)
        return {
            "rolled_back_to": int(to_version),
            "rolled_back_from": cur,
            "new_version": snap["version"],
            "high_lsn": self.high_lsn(),
        }

    # ------------------------------------------------------------------
    # stats
    # ------------------------------------------------------------------
    def row_count(self) -> int:
        """Physical row count from manifest stats (includes tombstones)."""
        return sum(f["rows"] for f in self.files())
