"""The four workloads. Each is a closed loop driven by one client.

A workload returns its timed samples, its output checks and, in the
traced run, the spans it produced; ``run.py`` turns those into metrics.
The amount of timed work is fixed by ``--seconds`` times a per-workload
rate (see README.md), so every run of one seed and ``--seconds`` does the
same work.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc import apply as apply_mod
from embulk_filter_copy_spark.cdc.apply import EPOCH_DONE_SEQ
from embulk_filter_copy_spark.cdc.replayer import event_struct, replay_stream, run_id_for_checkpoint
from embulk_filter_copy_spark.cdc.splitter import SinkSpec
from embulk_filter_copy_spark.lake.table import LakeTable

from harness import (
    DEFAULT_SEED,
    KEYS,
    bootstrap,
    check_exactly_once,
    check_pin,
    check_sink,
    corrupt_one_row,
    create_sink,
    dir_bytes,
    generate,
    reference_state,
    space_amp,
    wal_files,
    write_inputs,
)
from tracing import ProgressListener


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: int
    work: str
    tracer: object | None
    corrupt: bool = False
    setup: dict = field(default_factory=dict)


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    op_windows: list[tuple[float, float]]  # (start, end) of each timed operation
    work_units: float              # work done by the timed operations
    first_timed_at: float          # wall clock when the first timed op began
    checks: list[dict]
    ops: int                       # operations run, warm-up included
    space_amp: float
    extra: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    @property
    def op_walls(self) -> list[float]:
        return [e - s for s, e in self.op_windows]


def _n_timed(ctx: Ctx, per_second: float, lo: int) -> int:
    return max(lo, round(ctx.seconds * per_second))


def _inputs(ctx: Ctx, name: str, n_base: int, n_events: int, chunk: int, base_map=None):
    """Generate (timed as setup.gen_s, which setup_s excludes), pin-check
    and publish the workload's input; return base and events frames read
    back from the published files."""
    spark = ctx.spark
    t = time.time()
    base, events = generate(spark, n_base, n_events, ctx.seed)
    check_pin(
        spark, name, n_base, n_events,
        frames=(base, events) if ctx.seed == DEFAULT_SEED else None,
    )
    if base_map is not None:
        base = base_map(base)
    root = os.path.join(ctx.work, "input")
    n_chunks = write_inputs(spark, base, events, root, chunk) if n_events else 0
    if not n_events:
        base.write.parquet(os.path.join(root, "base"))
    ctx.setup["gen_s"] = time.time() - t
    base = spark.read.parquet(os.path.join(root, "base"))
    ev = spark.read.schema(event_struct()).parquet(os.path.join(root, "wal")) if n_events else None
    return root, base, ev, n_chunks


def _bootstrap(ctx: Ctx, make):
    """Create and bootstrap the sinks under ``sinks/``, timed as
    setup.bootstrap_s."""
    t = time.time()
    tables = make(os.path.join(ctx.work, "sinks"))
    ctx.setup["bootstrap_s"] = time.time() - t
    return tables


# ----------------------------------------------------------------------
# streaming workloads: backfill_cow, tail_fanout
# ----------------------------------------------------------------------
@dataclass(frozen=True)
class StreamShape:
    base_rows: int
    n_buckets: int
    chunk: int              # WAL events per chunk = per microbatch
    warm: int               # untimed first epochs
    per_second: float       # timed epochs per --seconds
    min_timed: int
    sinks: tuple            # (name, transforms, extra columns)


FULL = ("full", (), ())
SLIM = ("slim", (("drop", ["content"]),), ())
HASHED = (
    "hashed", (("with_column", "content_sha", "sha2(content, 256)"),),
    (("content_sha", "string"),),
)

BACKFILL_COW = StreamShape(
    base_rows=20_000, n_buckets=32, chunk=10_000, warm=5, per_second=0.5,
    min_timed=4, sinks=(FULL,),
)
TAIL_FANOUT = StreamShape(
    base_rows=5_000, n_buckets=64, chunk=100, warm=6, per_second=0.35,
    min_timed=4, sinks=(FULL, SLIM, HASHED),
)


def _sink_ref_transform(transforms):
    def fn(df):
        for t in transforms:
            if t[0] == "drop":
                df = df.drop(*t[1])
            elif t[0] == "with_column":
                df = df.withColumn(t[1], F.expr(t[2]))
        return df

    return fn


def run_stream(ctx: Ctx, name: str, shape: StreamShape) -> Outcome:
    spark = ctx.spark
    n_timed = _n_timed(ctx, shape.per_second, shape.min_timed)
    n_chunks = shape.warm + n_timed
    root, base, events, got_chunks = _inputs(
        ctx, name, shape.base_rows, n_chunks * shape.chunk, shape.chunk
    )
    if got_chunks != n_chunks:
        raise RuntimeError(f"{got_chunks} WAL chunks, expected {n_chunks}")

    def make(d):
        out = []
        for sname, _, extra in shape.sinks:
            t = create_sink(spark, os.path.join(d, sname), shape.n_buckets, extra)
            bootstrap(t, base)
            out.append(t)
        return out

    tables = _bootstrap(ctx, make)
    specs = [
        SinkSpec(name=sname, path=t.path, transforms=tr)
        for (sname, tr, _), t in zip(shape.sinks, tables)
    ]
    listener = ProgressListener()
    spark.streams.addListener(listener)
    ckpt = os.path.join(ctx.work, "ckpt")
    try:
        replay_stream(
            spark, os.path.join(root, "wal"), specs, checkpoint=ckpt,
            max_files_per_trigger=1,
        )
        # an availableNow query may end with one no-data batch; epochs
        # past the last chunk are not part of the workload
        batches = listener.wait_for(n_chunks)[:n_chunks]
    finally:
        spark.streams.removeListener(listener)
    if any(b["rows"] == 0 for b in batches):
        raise RuntimeError("a WAL chunk replayed as an empty microbatch")
    warm, timed = batches[: shape.warm], batches[shape.warm:]
    ctx.setup["warmup_s"] = sum(b["trigger_s"] for b in warm)
    n_events = sum(b["rows"] for b in timed)

    if ctx.corrupt:
        corrupt_one_row(tables[0])
    run_id = run_id_for_checkpoint(ckpt)
    checks = []
    for (sname, tr, _), t in zip(shape.sinks, tables):
        ref = reference_state(base, events, t.read().columns, _sink_ref_transform(tr))
        checks.append({"name": f"{sname}.rows", **check_sink(t, ref)})
        checks.append({"name": f"{sname}.exactly_once", **check_exactly_once(t, run_id, n_chunks)})
    return Outcome(
        op_windows=[(b["started"], b["started"] + b["trigger_s"]) for b in timed],
        work_units=n_events * len(tables),
        first_timed_at=timed[0]["started"],
        checks=checks,
        ops=len(batches),
        space_amp=space_amp(spark, tables, ctx.work),
        extra={"epochs_timed": len(timed)},
        layer={
            "timed_epochs": {b["batch"] for b in timed},
            "batches": timed,
            "events": n_events,
            "windows": "replayer.batch",
        },
    )


def backfill_cow(ctx: Ctx) -> Outcome:
    return run_stream(ctx, "backfill_cow", BACKFILL_COW)


def tail_fanout(ctx: Ctx) -> Outcome:
    return run_stream(ctx, "tail_fanout", TAIL_FANOUT)


# ----------------------------------------------------------------------
# mor_serve
# ----------------------------------------------------------------------
MOR = dict(
    base_rows=20_000, n_buckets=32, chunk=5_000, warm=2, per_second=0.3,
    min_timed=4, lookups=4, compact_every=4,
)


def mor_serve(ctx: Ctx) -> Outcome:
    spark, tr = ctx.spark, ctx.tracer
    n_timed = _n_timed(ctx, MOR["per_second"], MOR["min_timed"])
    n_cycles = MOR["warm"] + n_timed
    n_events = n_cycles * MOR["chunk"]
    root, base, events, _ = _inputs(ctx, "mor_serve", MOR["base_rows"], n_events, MOR["chunk"])
    # lookup keys: the keys of seeded-random WAL events, so the lookups
    # follow the log's skewed key distribution
    rng = random.Random(ctx.seed)
    want = rng.sample(range(1, n_events + 1), n_cycles * MOR["lookups"])
    t = time.time()
    rows = events.filter(F.col("lsn").isin(want)).select("lsn", *KEYS).distinct().collect()
    by_lsn = {r["lsn"]: (r["repo"], r["path"]) for r in rows}
    keys = [by_lsn[lsn] for lsn in want]
    ctx.setup["gen_s"] += time.time() - t

    def make(d):
        t = create_sink(spark, os.path.join(d, "mor"), MOR["n_buckets"])
        bootstrap(t, base)
        return [t]

    (table,) = _bootstrap(ctx, make)
    chunks = wal_files(root)
    cycles, apply_walls, lookup_walls, feed_walls, compact_walls = [], [], [], [], []
    depth, feed_rows, compact_rows, lookup_windows = [], [], [], []
    lookup_bad = 0
    first_timed_at = None
    t_warm = time.time()
    for i in range(n_cycles):
        timed = i >= MOR["warm"]
        if timed and first_timed_at is None:
            first_timed_at = time.time()
            ctx.setup["warmup_s"] = first_timed_at - t_warm
        chunk = spark.read.schema(event_struct()).parquet(chunks[i])
        with tr.span("bench.cycle", epoch=i) if tr else nullcontext():
            c0 = time.time()
            v_prev = table.current_version()
            apply_mod.apply_batch(table, chunk, run_id="mor_serve", epoch=i, merge_mode="mor")
            a1 = time.time()
            if tr:
                depth.append(table.delta_file_count() / table.n_buckets)
            for repo, path in keys[i * MOR["lookups"]:(i + 1) * MOR["lookups"]]:
                l0 = time.time()
                got = table.lookup({"repo": repo, "path": path}).collect()
                l1 = time.time()
                lookup_bad += len(got) > 1
                if timed:
                    lookup_walls.append(l1 - l0)
                    lookup_windows.append((l0, l1))
            f0 = time.time()
            table.read_changes(v_prev).write.format("noop").mode("overwrite").save()
            f1 = time.time()
            comp = None
            if (i + 1) % MOR["compact_every"] == 0:
                comp = table.compact()
            c1 = time.time()
        if timed:
            cycles.append((c0, c1))
            apply_walls.append(a1 - c0)
            feed_walls.append(f1 - f0)
            if comp is not None:
                compact_walls.append(c1 - f1)
                compact_rows.append(comp.get("rows", 0))
            if tr:
                feed_rows.append(table.read_changes(v_prev).count())

    if ctx.corrupt:
        corrupt_one_row(table)
    ref = reference_state(base, events, table.read().columns)
    checks = [
        {"name": "mor.rows", **check_sink(table, ref)},
        {"name": "mor.exactly_once", **check_exactly_once(table, "mor_serve", n_cycles)},
        {"name": "mor.lookup_unique", "ok": lookup_bad == 0, "bad": lookup_bad},
    ]
    return Outcome(
        op_windows=cycles,
        # WAL events (re-deliveries included) past the warm-up LSN range
        work_units=events.filter(F.col("lsn") > MOR["warm"] * MOR["chunk"]).count(),
        first_timed_at=first_timed_at,
        checks=checks,
        ops=n_cycles * (2 + MOR["lookups"]) + n_cycles // MOR["compact_every"],
        space_amp=space_amp(spark, [table], ctx.work),
        extra={
            "apply_walls": apply_walls,
            "lookup_walls": lookup_walls,
            "feed_walls": feed_walls,
            "compact_walls": compact_walls,
        },
        layer={
            "timed_epochs": set(range(MOR["warm"], n_cycles)),
            "windows": "apply.apply_batch",
            "events": None,
            "delta_depth": depth,
            "lookup_windows": lookup_windows,
            "feed_rows": feed_rows,
            "compact_rows": compact_rows,
        },
    )


# ----------------------------------------------------------------------
# commit_log
# ----------------------------------------------------------------------
COMMIT_LOG = dict(rows=2_048, n_buckets=256, warm=10, rounds=8, per_second=100.0, min_timed=40)


def commit_log(ctx: Ctx) -> Outcome:
    """Marker commits in ``rounds`` rounds, each on a fresh copy of the
    bootstrapped table, so history grows from the same start every round
    and the retained metadata stays bounded."""
    spark, tr = ctx.spark, ctx.tracer
    rounds = COMMIT_LOG["rounds"]
    per_round = _n_timed(ctx, COMMIT_LOG["per_second"], COMMIT_LOG["min_timed"]) // rounds
    _, base, _, _ = _inputs(
        ctx, "commit_log", COMMIT_LOG["rows"], 0, 1,
        base_map=lambda b: b.withColumn("content", F.substring("content", 1, 16)),
    )

    def make(d):
        t = create_sink(spark, os.path.join(d, "log"), COMMIT_LOG["n_buckets"])
        bootstrap(t, base)
        return [t]

    (template,) = _bootstrap(ctx, make)
    run_id = "commit_log"
    walls, once, meta_added = [], [], 0
    first_timed_at, k, table = None, 0, None
    t_warm = time.time()
    for r in range(rounds):
        path = os.path.join(ctx.work, f"round-{r}")
        shutil.copytree(template.path, path)
        n = per_round + (COMMIT_LOG["warm"] if r == 0 else 0)
        meta = os.path.join(path, "_meta")
        meta0 = None
        for i in range(n):
            timed = r > 0 or i >= COMMIT_LOG["warm"]
            if timed and meta0 is None:
                meta0 = dir_bytes(meta)
                if first_timed_at is None:
                    first_timed_at = time.time()
                    ctx.setup["warmup_s"] = first_timed_at - t_warm
            with tr.span("bench.commit", epoch=k) if tr else nullcontext():
                t0 = time.time()
                t = LakeTable.load(spark, path)
                if not t.has_commit(run_id, i, EPOCH_DONE_SEQ):
                    t.add_commit({
                        "run_id": run_id, "epoch": i, "seq": EPOCH_DONE_SEQ,
                        "lsn_min": i + 1, "lsn_max": i + 1, "rows_applied": 0,
                    })
                t1 = time.time()
            if timed:
                walls.append((t0, t1))
            k += 1
        meta_added += dir_bytes(meta) - meta0
        table = LakeTable.load(spark, path)
        once.append(check_exactly_once(table, run_id, n))
        if r < rounds - 1:
            shutil.rmtree(path)

    if ctx.corrupt:
        corrupt_one_row(table)
    checks = [
        {"name": "log.rows", **check_sink(table, base)},
        {"name": "log.exactly_once", "ok": all(c["ok"] for c in once), "rounds": once},
    ]
    return Outcome(
        op_windows=walls,
        work_units=len(walls),
        first_timed_at=first_timed_at,
        checks=checks,
        ops=k,
        space_amp=space_amp(spark, [table], ctx.work),
        extra={"meta_bytes_per_commit": meta_added / len(walls)},
        layer={"timed_epochs": set(range(COMMIT_LOG["warm"], k)), "windows": None},
    )


WORKLOADS = {
    "backfill_cow": backfill_cow,
    "tail_fanout": tail_fanout,
    "mor_serve": mor_serve,
    "commit_log": commit_log,
}
