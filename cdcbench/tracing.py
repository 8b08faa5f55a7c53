"""Tracing for the benchmark's traced run (``--trace 1``).

Spans come from wrappers installed at run time around the public calls
into each layer, at every place the name is looked up (a module that did
``from x import f`` holds its own reference to ``f``). Spans stay in memory
and are written as JSON when the run ends. Spark-side counts come from the
event log, which only the traced run enables.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from embulk_filter_copy_spark.cdc import apply as apply_mod
from embulk_filter_copy_spark.cdc import dedup as dedup_mod
from embulk_filter_copy_spark.cdc import replayer as replayer_mod
from embulk_filter_copy_spark.lake.table import LakeTable


class ProgressListener(StreamingQueryListener):
    """Per-microbatch durations from Spark's own progress events; the
    untimed and the traced run both use it for the epoch wall time."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs or {})
        started = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        with self._lock:
            self.batches.append({
                "batch": p.batchId,
                "started": started,
                "rows": p.numInputRows,
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n: int, timeout: float = 30.0) -> list[dict]:
        """Progress events arrive asynchronously after the query returns."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if len(self.batches) >= n:
                    return sorted(self.batches, key=lambda b: b["batch"])
            time.sleep(0.05)
        raise RuntimeError(f"only {len(self.batches)} of {n} progress events arrived")


def _snapshot_bytes(table: LakeTable) -> int:
    v = table.current_version()
    return os.path.getsize(os.path.join(table.path, "_meta", f"v{v:08d}.json"))


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._batch: dict | None = None  # the open replayer batch span
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------------
    @contextmanager
    def span(self, name: str, epoch=None):
        """A span opened by the benchmark itself."""
        rec = self._open(name, epoch)
        try:
            yield rec
        finally:
            self._close(rec)

    def _open(self, name: str, epoch) -> dict:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if stack:
            parent = stack[-1]
        else:
            # fan-out sink threads start with an empty stack: their parent
            # is the replayer batch that submitted them
            parent = self._batch
        if epoch is None and parent is not None:
            epoch = parent["epoch"]
        rec = {
            "id": 0, "name": name, "start": time.time(), "end": None,
            "parent": parent["id"] if parent else None, "epoch": epoch,
            "info": {},
        }
        with self._lock:
            rec["id"] = len(self.spans) + 1
            self.spans.append(rec)
        stack.append(rec)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._local.stack.pop()

    # ------------------------------------------------------------------
    def _wrap(self, name, fn, epoch_of=None, info_of=None, is_batch=False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            epoch = epoch_of(args, kwargs) if epoch_of else None
            rec = tracer._open(name, epoch)
            if is_batch:
                tracer._batch = rec
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(rec)
                if is_batch:
                    tracer._batch = None
            if info_of is not None:
                rec["info"].update(info_of(args, kwargs, out))
            return out

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        def apply_info(a, kw, out):
            table = a[0] if a else kw["table"]
            return {
                "skipped": bool(out.get("skipped")),
                "rows_applied": out.get("rows_applied", 0),
                "buckets": len(out.get("buckets", [])),
                "n_buckets": table.n_buckets,
            }

        def write_info(a, kw, out):
            return {
                "rows": out.get("rows", 0), "files_added": out.get("files_added", 0),
                "snapshot_bytes": _snapshot_bytes(a[0]),
            }

        wrapped_apply = self._wrap(
            "apply.apply_batch", apply_mod.apply_batch,
            epoch_of=lambda a, kw: kw.get("epoch"), info_of=apply_info,
        )
        self._patch(apply_mod, "apply_batch", wrapped_apply)
        self._patch(replayer_mod, "apply_batch", wrapped_apply)

        wrapped_dedup = self._wrap(
            "dedup.dedup_events", dedup_mod.dedup_events,
            info_of=lambda a, kw, out: {"mode": a[1] if len(a) > 1 else kw.get("mode")},
        )
        self._patch(dedup_mod, "dedup_events", wrapped_dedup)
        self._patch(apply_mod, "dedup_events", wrapped_dedup)

        self._patch(replayer_mod, "apply_transforms", self._wrap(
            "splitter.apply_transforms", replayer_mod.apply_transforms))
        self._patch(replayer_mod.FanoutApplier, "__call__", self._wrap(
            "replayer.batch", replayer_mod.FanoutApplier.__call__,
            epoch_of=lambda a, kw: int(a[2]), is_batch=True))

        for attr in ("replace_buckets", "append_delta"):
            self._patch(LakeTable, attr, self._wrap(
                f"table.{attr}", getattr(LakeTable, attr), info_of=write_info))
        self._patch(LakeTable, "add_commit", self._wrap(
            "table.add_commit", LakeTable.add_commit,
            info_of=lambda a, kw, out: {"snapshot_bytes": _snapshot_bytes(a[0])}))
        for attr in ("has_commit", "lookup", "read_changes"):
            self._patch(LakeTable, attr, self._wrap(f"table.{attr}", getattr(LakeTable, attr)))
        self._patch(LakeTable, "read", self._wrap(
            "table.read", LakeTable.read,
            info_of=lambda a, kw, out: {
                "files": len(a[0].files(kw.get("buckets"))) if kw.get("buckets") is not None else None
            }))
        self._patch(LakeTable, "compact", self._wrap(
            "table.compact", LakeTable.compact,
            info_of=lambda a, kw, out: {"rows": out.get("rows", 0)}))
        load = LakeTable.__dict__["load"].__func__
        self._patch(LakeTable, "load", classmethod(self._wrap("table.load", load)))

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    # ------------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def by_name(self, name: str, epochs=None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (epochs is None or s["epoch"] in epochs)
        ]

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out


def dur(s: dict) -> float:
    return s["end"] - s["start"]


def union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(s: dict, kids: dict[int, list[dict]]) -> float:
    """Span duration minus the union of its child spans (children overlap
    when fan-out sinks run concurrently)."""
    cs = kids.get(s["id"], [])
    return dur(s) - union_len((max(c["start"], s["start"]), min(c["end"], s["end"])) for c in cs)


def self_time_table(tracer: Tracer) -> dict[str, dict]:
    kids = tracer.children()
    out: dict[str, dict] = {}
    for s in tracer.spans:
        if s["end"] is None:
            continue
        row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += dur(s)
        row["self_s"] += self_time(s, kids)
    return out


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------
def read_event_log(log_dir: str) -> dict:
    jobs, tasks = [], []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "t": ev["Submission Time"] / 1000.0})
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                        "launch": info["Launch Time"] / 1000.0,
                        "finish": info["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


def spark_window_stats(log: dict, windows: list[tuple[float, float]], cores: int) -> dict:
    """Jobs started, task busy time, shuffle bytes and task skew inside
    each (start, end) window."""
    per = []
    for s, e in windows:
        jobs = [j for j in log["jobs"] if s <= j["t"] <= e]
        tasks = [t for t in log["tasks"] if t["launch"] >= s and t["finish"] <= e]
        stages: dict = {}
        for t in tasks:
            stages.setdefault(t["stage"], []).append(t)
        skew = 0.0
        if stages:
            longest = max(
                stages.values(),
                key=lambda ts: max(t["finish"] for t in ts) - min(t["launch"] for t in ts),
            )
            d = [t["finish"] - t["launch"] for t in longest]
            med = statistics.median(d)
            skew = max(d) / med if med > 0 else 1.0
        per.append({
            "jobs": len(jobs),
            "busy_s": sum(t["run_s"] for t in tasks),
            "wall_s": e - s,
            "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
            "skew": skew,
        })
    wall = sum(p["wall_s"] for p in per)
    return {
        "jobs": [p["jobs"] for p in per],
        "busy_frac": sum(p["busy_s"] for p in per) / (cores * wall) if wall else 0.0,
        "shuffle_bytes": sum(p["shuffle_bytes"] for p in per),
        "skew": statistics.median([p["skew"] for p in per]) if per else 0.0,
    }


# ----------------------------------------------------------------------
# per-layer metrics
# ----------------------------------------------------------------------
PER_LAYER = {
    "replayer.batch_s": "s",
    "replayer.trigger_overhead_s": "s",
    "replayer.sink_overlap": "ratio",
    "replayer.self_frac": "ratio",
    "splitter.plan_s": "s",
    "dedup.passes_per_epoch": "count",
    "apply.sink_epoch_s": "s",
    "apply.jobs_per_epoch": "count",
    "apply.buckets_touched_frac": "ratio",
    "apply.write_amp": "ratio",
    "table.write_s": "s",
    "table.files_per_epoch": "count",
    "table.load_s": "s",
    "table.has_commit_s": "s",
    "table.add_commit_s": "s",
    "table.snapshot_bytes": "bytes",
    "table.delta_depth": "ratio",
    "table.lookup_files": "count",
    "table.jobs_per_lookup": "count",
    "table.feed_rows": "count",
    "table.compact_rows": "count",
    "spark.busy_frac": "ratio",
    "spark.shuffle_bytes_per_event": "bytes",
    "spark.task_skew": "ratio",
    "setup.session_s": "s",
    "setup.bootstrap_s": "s",
    "setup.warmup_s": "s",
    "setup.gen_s": "s",
    "trace.blocking_cover": "ratio",
}


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tr: Tracer, layer: dict, log: dict | None, cores: int, setup: dict) -> dict:
    """Every PER_LAYER metric. A layer the workload does not exercise
    reads 0 (no spans, no work)."""
    timed = layer["timed_epochs"]
    kids = tr.children()
    spans = lambda name: tr.by_name(name, timed)  # noqa: E731
    batches = spans("replayer.batch")
    applies = [s for s in spans("apply.apply_batch") if not s["info"].get("skipped")]
    by_epoch: dict = {}
    for s in applies:
        by_epoch.setdefault(s["epoch"], []).append(s)
    in_compact = {s["id"] for s in spans("table.compact")}
    writes = [
        s for n in ("table.replace_buckets", "table.append_delta") for s in spans(n)
        if s["parent"] not in in_compact
    ]
    n_epochs = len(by_epoch) or len(batches)
    dedups = [s for s in spans("dedup.dedup_events") if s["info"].get("mode") != "skip"]
    transforms: dict = {}
    for s in spans("splitter.apply_transforms"):
        transforms[s["epoch"]] = transforms.get(s["epoch"], 0.0) + dur(s)
    applied = sum(s["info"]["rows_applied"] for s in applies)
    snaps = [
        s["info"]["snapshot_bytes"]
        for n in ("table.replace_buckets", "table.append_delta", "table.add_commit")
        for s in spans(n)
    ]
    lookups = spans("table.lookup")
    lookup_reads = [
        c["info"]["files"] for s in lookups for c in kids.get(s["id"], [])
        if c["name"] == "table.read" and c["info"].get("files") is not None
    ]
    tb = layer.get("batches") or []
    # Of each epoch's wall time, the layer calls below the batch account
    # for the time their spans cover (Σ self times along the blocking
    # path telescopes to that), and the trigger for triggerExecution −
    # addBatch. The batch's own self time, work in FanoutApplier.__call__
    # outside every wrapped call, is the gap, reported on its own.
    cover, batch_self = [], []
    for s in batches:
        b = next((x for x in tb if x["batch"] == s["epoch"]), None)
        if b and b["trigger_s"] > 0:
            own = self_time(s, kids)
            over = b["trigger_s"] - b["add_batch_s"]
            cover.append((over + dur(s) - own) / b["trigger_s"])
            batch_self.append(own / b["trigger_s"])

    out = {
        "replayer.batch_s": _med([dur(s) for s in batches]),
        "replayer.trigger_overhead_s": _med([b["trigger_s"] - b["add_batch_s"] for b in tb]),
        "replayer.sink_overlap": _med([
            sum(dur(a) for a in by_epoch.get(s["epoch"], [])) / dur(s) for s in batches
        ]),
        "splitter.plan_s": _med(list(transforms.values())),
        "dedup.passes_per_epoch": len(dedups) / n_epochs if n_epochs else 0.0,
        "apply.sink_epoch_s": _med([dur(s) for s in applies]),
        "apply.buckets_touched_frac": _mean([
            s["info"]["buckets"] / s["info"]["n_buckets"] for s in applies
        ]),
        "apply.write_amp": sum(s["info"]["rows"] for s in writes) / applied if applied else 0.0,
        "table.write_s": _med([dur(s) for s in writes]),
        "table.files_per_epoch": _mean([s["info"]["files_added"] for s in writes]),
        "table.load_s": _med([dur(s) for s in spans("table.load")]),
        "table.has_commit_s": _med([dur(s) for s in spans("table.has_commit")]),
        "table.add_commit_s": _med([dur(s) for s in spans("table.add_commit")]),
        "table.snapshot_bytes": _med(snaps),
        "table.delta_depth": _med(layer.get("delta_depth", [])),
        "table.lookup_files": _med(lookup_reads),
        "table.feed_rows": _med(layer.get("feed_rows", [])),
        "table.compact_rows": _med(layer.get("compact_rows", [])),
        "replayer.self_frac": _med(batch_self),
        "trace.blocking_cover": _med(cover),
        "setup.session_s": setup.get("session_s", 0.0),
        "setup.bootstrap_s": setup.get("bootstrap_s", 0.0),
        "setup.warmup_s": setup.get("warmup_s", 0.0),
        "setup.gen_s": setup.get("gen_s", 0.0),
    }
    windows = []
    if layer.get("windows") == "replayer.batch":
        windows = [(s["start"], s["end"]) for s in batches]
    elif layer.get("windows") == "apply.apply_batch":
        windows = [(s["start"], s["end"]) for s in applies]
    sw = spark_window_stats(log, windows, cores) if (log and windows) else None
    lw = spark_window_stats(log, layer.get("lookup_windows", []), cores) if log else None
    events = layer.get("events") or applied
    out.update({
        "apply.jobs_per_epoch": _mean(sw["jobs"]) if sw else 0.0,
        "spark.busy_frac": sw["busy_frac"] if sw else 0.0,
        "spark.shuffle_bytes_per_event": sw["shuffle_bytes"] / events if sw and events else 0.0,
        "spark.task_skew": sw["skew"] if sw else 0.0,
        "table.jobs_per_lookup": _mean(lw["jobs"]) if lw and lw["jobs"] else 0.0,
    })
    return out
