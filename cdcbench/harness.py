"""Shared pieces of the benchmark: session, inputs, WAL, output checks, stats.

``run.py`` imports this module only after it has found the engine package.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc.apply import EPOCH_DONE_SEQ
from embulk_filter_copy_spark.fixtures import (
    REPO_FILES_SCHEMA,
    gen_change_events,
    gen_repo_files,
)
from embulk_filter_copy_spark.lake.table import LakeTable
from embulk_filter_copy_spark.session import get_spark

DRIVER_HEAP = "2g"
KEYS = ("repo", "path")
DEFAULT_SEED = 1
PIN_EVENTS = 10_000
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log_dir: str | None) -> SparkSession:
    """``local[nproc]`` session whose every scratch path lives under
    ``work``; the event log is on only for the traced run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    n = nproc()
    spark = get_spark(
        app_name="cdcbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit (it exits when
    its standard input closes). Safe to call twice."""
    proc = spark.sparkContext._gateway.proc
    if proc.poll() is not None:
        return
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


# ----------------------------------------------------------------------
# inputs
# ----------------------------------------------------------------------
def frame_digest(df: DataFrame) -> tuple[int, int]:
    """Order-insensitive (row count, Σ xxhash64 over the row) — one job."""
    cols = sorted(df.columns)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def generate(spark, n_base: int, n_events: int, seed: int) -> tuple[DataFrame, DataFrame]:
    """The workload's (base, events) straight from the repo's generator;
    2% duplicate re-deliveries."""
    parts = spark.sparkContext.defaultParallelism
    base = gen_repo_files(spark, n_base, seed=seed, partitions=parts)
    events = gen_change_events(
        spark, n_base, n_events, seed=seed, dup_rate=0.02, partitions=parts
    )
    return base, events


def check_pin(spark, workload: str, n_base: int, n_events: int, frames=None) -> str:
    """Digest of the workload's input at the default seed (whatever seed
    the run uses), compared with the pinned value, so that a change to the
    generator cannot silently change the load. Pins are kept per input
    size and cover the base and the first PIN_EVENTS events (the filter
    is pushed below the generator, so the rest is never computed);
    ``frames`` passes the default-seed input when the run already
    generated it."""
    base, events = frames or generate(spark, n_base, n_events, DEFAULT_SEED)
    digests = [frame_digest(base)]
    if n_events:
        digests.append(frame_digest(events.filter(F.col("lsn") <= PIN_EVENTS)))
    h = hashlib.sha256(json.dumps(digests).encode()).hexdigest()[:16]
    key = f"{workload}:{n_base}:{n_events}"
    with open(PINS_PATH) as f:
        pins = json.load(f)
    if key not in pins:
        raise SystemExit(
            f"no input pin for {key} (this input size): pinned sizes are"
            f" {sorted(pins)}. To add it, set pins.json[{key!r}] to {h!r}."
        )
    if pins[key] != h:
        raise SystemExit(
            f"input pin mismatch for {key}: generated {h}, pinned {pins[key]}."
            " The generator changed the workload. If that change is intended,"
            f" set pins.json[{key!r}] to {h!r}."
        )
    return h


def write_inputs(spark, base: DataFrame, events: DataFrame, root: str, chunk: int) -> int:
    """Base as parquet, events as a WAL of equal LSN chunks (chunk k holds
    LSNs k*chunk+1 .. (k+1)*chunk plus their re-deliveries). The chunks
    are published one after another in LSN order with strictly increasing
    mtimes, which is the order the file stream source replays them in."""
    base.write.parquet(os.path.join(root, "base"))
    staged = os.path.join(root, "wal-staged")
    (
        events.withColumn("_chunk", F.floor((F.col("lsn") - 1) / chunk).cast("long"))
        .repartition("_chunk")
        .write.partitionBy("_chunk")
        .parquet(staged)
    )
    wal = os.path.join(root, "wal")
    os.makedirs(wal)
    ids = sorted(int(d.split("=", 1)[1]) for d in os.listdir(staged) if d.startswith("_chunk="))
    t0 = int(time.time()) - len(ids) - 10
    for i in ids:
        d = os.path.join(staged, f"_chunk={i}")
        parts = [p for p in os.listdir(d) if p.endswith(".parquet")]
        if len(parts) != 1:
            raise RuntimeError(f"chunk {i} staged as {len(parts)} files")
        dst = os.path.join(wal, f"chunk-{i:06d}.parquet")
        os.rename(os.path.join(d, parts[0]), dst)
        os.utime(dst, (t0 + i, t0 + i))
    shutil.rmtree(staged)
    if ids != list(range(len(ids))):
        raise RuntimeError(f"WAL chunks not contiguous: {ids[:5]}...")
    return len(ids)


def wal_files(root: str) -> list[str]:
    wal = os.path.join(root, "wal")
    return [os.path.join(wal, f) for f in sorted(os.listdir(wal))]


def create_sink(spark, path: str, n_buckets: int, extra_cols=()) -> LakeTable:
    return LakeTable.create(
        spark, path, REPO_FILES_SCHEMA + list(extra_cols),
        key_columns=list(KEYS), n_buckets=n_buckets,
    )


def bootstrap(table: LakeTable, base: DataFrame) -> None:
    table.append(base.withColumn("_lsn", F.lit(0)))


# ----------------------------------------------------------------------
# output checks
# ----------------------------------------------------------------------
def reference_state(base: DataFrame, events: DataFrame, columns: list[str], transform=None) -> DataFrame:
    """Final state by a plain window last-writer-wins over base ∪ events —
    written here, independent of the engine's dedup and merge code. Base
    rows count as LSN 0 inserts; re-deliveries carry identical payloads,
    so either copy may win. A sink's column ``transform`` applies to the
    events only (the base is bootstrapped as is); columns a side lacks are
    NULL, as in the sink."""
    ev = events.filter(F.col("op") != "S")
    if transform is not None:
        ev = transform(ev)

    def fit(df: DataFrame) -> DataFrame:
        return df.select(
            *[F.col(c) if c in df.columns else F.lit(None).cast("string").alias(c) for c in columns],
            "lsn", "op",
        )

    u = fit(base.withColumn("lsn", F.lit(0).cast("long")).withColumn("op", F.lit("I")))
    u = u.unionByName(fit(ev))
    w = Window.partitionBy(*KEYS).orderBy(F.col("lsn").desc())
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .select(*columns)
    )


def check_sink(table: LakeTable, reference: DataFrame) -> dict:
    """Digest of the sink's ``read()`` against the reference's."""
    got = table.read()
    got_d = frame_digest(got)
    want_d = frame_digest(reference.select(*got.columns))
    return {"ok": got_d == want_d, "rows": got_d[0], "want_rows": want_d[0]}


def check_exactly_once(table: LakeTable, run_id: str, n_epochs: int) -> dict:
    """One epoch-done commit per (run, epoch), and epochs 0..n-1 all present."""
    seen: dict[int, int] = {}
    for c in table.commits():
        if c.get("run_id") == run_id and c.get("seq") == EPOCH_DONE_SEQ:
            seen[c["epoch"]] = seen.get(c["epoch"], 0) + 1
    ok = sorted(seen) == list(range(n_epochs)) and all(v == 1 for v in seen.values())
    return {"ok": ok, "epochs": len(seen), "want_epochs": n_epochs}


def corrupt_one_row(table: LakeTable) -> str:
    """Self-test hook: rewrite one live data file with one ``commit`` value
    changed, behind the engine's back."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = next(x for x in table.files() if x.get("kind") != "delta" and x["rows"] > 0)
    path = os.path.join(table.path, f["path"])
    t = pq.read_table(path)
    i = t.schema.get_field_index("commit")
    col = t.column(i).to_pylist()
    col[0] = "corrupted"
    t = t.set_column(i, t.schema.field(i), pa.array(col, type=t.schema.field(i).type))
    pq.write_table(t, path)
    # drop the local file system's checksum so the read succeeds and the
    # row digest, not a checksum error, has to catch the change
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return path


# ----------------------------------------------------------------------
# sizes and stats
# ----------------------------------------------------------------------
def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def space_amp(spark, tables: list[LakeTable], scratch: str) -> float:
    """Bytes under the sink directories (data and metadata, every retained
    version) ÷ bytes of the live rows written once as fresh parquet."""
    stored = sum(dir_bytes(t.path) for t in tables)
    fresh = 0
    for i, t in enumerate(tables):
        out = os.path.join(scratch, f"fresh-{i}")
        t.read().coalesce(1).write.parquet(out)
        fresh += dir_bytes(out)
        shutil.rmtree(out)
    return stored / fresh


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> dict | None:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    n = len(xs)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
            return {"pct": p, "value": q, "samples": n, "beyond": sum(1 for x in xs if x > q)}
    return None


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the driver JVM."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._gateway.proc.pid
    return (hwm("self") + hwm(jvm)) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else on this machine's
    virtual CPUs; runs with a few percent of it are markedly slower."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def fs_type(path: str) -> str:
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind

