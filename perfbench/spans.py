"""Tracing for the benchmark's traced run (``--trace 1``).

Everything is recorded from the benchmark's own code, around its calls
into the package; the package is not changed or patched:

- spans (name, start, end, parent, op id) around each call into a layer,
  held in memory and written out when the run ends;
- Spark jobs, stages and tasks per op from the status tracker. Jobs are
  counted by id range (every job started during the op), not by job
  group, because some package work runs on worker threads outside the
  caller's group;
- task metrics and job intervals from the run's Spark event log;
- operation counts, bytes and busy time at the storage seam, and the
  paths of published files, through a counting
  :class:`PosixStorageBackend` installed with the public
  ``set_storage_backend``.

The untraced run uses :class:`NullTracer`, whose spans cost one method
call each.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict

import pyarrow.parquet as pq

from dask_awkward_spark.sources.storage import PosixStorageBackend

_NULL = contextlib.nullcontext()

STORAGE_OPS = (
    "read_bytes", "exists", "mtime", "size", "stat_sig", "list_dir",
    "walk_files", "put_atomic", "put_file_atomic", "delete", "delete_prefix",
    "ensure_dir", "prune_empty_dirs",
)
_MANIFEST = re.compile(r"v\d{8}\.json$")
WRITE_FAMILIES = ("update", "delete", "merge", "insert", "compact")


class NullTracer:
    def span(self, name: str, **attrs):
        return _NULL

    def begin_op(self, family: str, timed: bool) -> None:
        pass

    def end_op(self, op, result) -> None:
        pass


class CountingStorage(PosixStorageBackend):
    """The default POSIX backend, counting calls, bytes and busy time per
    operation. Change staging calls it from worker threads, so counts are
    updated under a lock."""

    def __init__(self):
        self._lock = threading.Lock()
        self.counts = {op: [0, 0, 0.0] for op in STORAGE_OPS}
        self.manifest_reads = 0
        self.published: "list[str]" = []  # put_file_atomic destinations

    def snapshot(self) -> dict:
        with self._lock:
            out = {op: list(c) for op, c in self.counts.items()}
            out["manifest_reads"] = self.manifest_reads
            out["published"] = len(self.published)
            return out

    def _count(self, op: str, nbytes: int, busy: float, manifest: bool = False) -> None:
        with self._lock:
            c = self.counts[op]
            c[0] += 1
            c[1] += nbytes
            c[2] += busy
            self.manifest_reads += manifest

    def _published(self, dst: str) -> None:
        with self._lock:
            self.published.append(dst)


def _is_data_file(path: str) -> bool:
    """Whether a published file holds table rows. The snapshot layer also
    publishes checkpoints (under the manifest directory), deletion-vector
    frames (columns ``file`` and ``pos``) and change-feed frames (with a
    ``_change_type`` column); a file deleted since (an empty staged
    frame) was never visible."""
    if "/_manifests/" in path or not os.path.exists(path):
        return False
    names = set(pq.read_schema(path).names)
    return "_change_type" not in names and names != {"file", "pos"}


def _counted(op: str):
    base = getattr(PosixStorageBackend, op)

    def method(self, *args, **kwargs):
        t0 = time.perf_counter()
        out = base(self, *args, **kwargs)
        busy = time.perf_counter() - t0
        if op == "read_bytes":
            self._count(op, len(out), busy, bool(_MANIFEST.search(args[0])))
        elif op == "put_atomic":
            self._count(op, len(args[1]), busy)
        elif op == "put_file_atomic":
            self._count(op, os.path.getsize(args[1]), busy)
            self._published(args[1])
        else:
            self._count(op, 0, busy)
        return out

    method.__name__ = op
    return method


for _op in STORAGE_OPS:
    setattr(CountingStorage, _op, _counted(_op))


def _self_times(spans: "list[dict]") -> None:
    """Set each span's ``self`` to its duration minus the part of its
    interval that its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    for s in spans:
        s["self"] = (s["end"] - s["start"]) - _covered(children[s["id"]], s["start"], s["end"])


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def read_event_log(log_dir: str, app_id: str) -> "tuple[dict, dict]":
    """Jobs ({id: submit/end ms and stage ids}) and per-stage task-metric
    sums from one application's event log."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    files.sort(key=lambda f: int(re.search(r"events_(\d+)_", f).group(1)))
    jobs, stages = {}, defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "stages": ev["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], {"stages": []})["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    m, acc = ev["Task Metrics"], stages[ev["Stage ID"]]
                    acc["task_run_s"] += m["Executor Run Time"] / 1e3
                    acc["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                    acc["task_gc_s"] += m["JVM GC Time"] / 1e3
                    acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    rd = m["Shuffle Read Metrics"]
                    acc["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                    acc["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    acc["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return jobs, stages


TASK_METRICS = (
    "task_run_s", "task_cpu_s", "task_gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "input_bytes", "output_bytes", "spill_bytes",
)
# span name -> per-layer metric; the value is the median over timed ops
# (that make the call) of the op's summed self time in that layer
SPAN_METRICS = {
    "sources.parquet.from_parquet": "sources.parquet.from_parquet_s",
    "operators.plan": "operators.plan_s",
    "spark.collect": "spark.collect_s",
    "sources.catalog.lookup": "sources.catalog.lookup_s",
    "sources.sqlface.sql": "sources.sqlface.sql_s",
    "sources.snapshot.update": "sources.snapshot.update_s",
    "sources.snapshot.delete": "sources.snapshot.delete_s",
    "sources.snapshot.merge": "sources.snapshot.merge_s",
    "sources.snapshot.read": "sources.snapshot.read_s",
    "sources.snapshot.compact": "sources.snapshot.compact_s",
}


class Tracer:
    def __init__(self):
        self.spans: "list[dict]" = []
        self.ops: "list[dict]" = []
        self.gauges = defaultdict(list)
        self.storage = CountingStorage()
        self._stack: "list[int]" = []
        self._op: "dict | None" = None
        self._sc = self._tracker = None

    def attach(self, spark) -> None:
        """Follow ``spark``'s context (the one the ops run on)."""
        self._sc = spark.sparkContext._jsc.sc()
        self._tracker = spark.sparkContext.statusTracker()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans), "name": name,
            "op": self._op["id"] if self._op else None,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def gauge(self, values: dict) -> None:
        for k, v in values.items():
            self.gauges[k].append(v)

    def begin_op(self, family: str, timed: bool) -> None:
        self._op = {
            "id": len(self.ops), "family": family, "timed": timed,
            "job0": self._sc.dagScheduler().nextJobId(),
            "storage0": self.storage.snapshot(),
        }
        self.ops.append(self._op)

    def end_op(self, op, result) -> None:
        """Close the current op: its job range, status-tracker counts,
        storage deltas and returned stats. The time spent here is the
        tracer's own bookkeeping and is recorded with the op."""
        t0 = time.perf_counter()
        rec, self._op = self._op, None
        rec["changed_rows"] = op.changed_rows
        # jobs report to the status tracker through the listener bus
        self._sc.listenerBus().waitUntilEmpty()
        rec["jobs"] = list(range(rec["job0"], self._sc.dagScheduler().nextJobId()))
        # a job that reuses an earlier job's shuffle lists its stage too
        stage_ids = set()
        for j in rec["jobs"]:
            info = self._tracker.getJobInfo(j)
            stage_ids.update(info.stageIds if info else [])
        stages = tasks = 0
        for s in stage_ids:
            si = self._tracker.getStageInfo(s)
            ran = si.numCompletedTasks + si.numFailedTasks if si else 0
            stages += ran > 0
            tasks += ran
        rec["stages"], rec["tasks"] = stages, tasks
        end = self.storage.snapshot()
        start = rec.pop("storage0")
        rec["storage"] = {
            k: ([a - b for a, b in zip(end[k], start[k])] if isinstance(end[k], list) else end[k] - start[k])
            for k in end
        }
        # read outside the package, so its manifest cache is left alone
        published = self.storage.published[start["published"]:end["published"]]
        rec["added_files"] = sum(map(_is_data_file, published))
        if isinstance(result, dict):
            rec["stats"] = {k: v for k, v in result.items() if isinstance(v, int)}
        rec["bookkeeping_s"] = time.perf_counter() - t0

    def report(self, log_dir: str, app_id: str) -> dict:
        """The per-layer metrics, from the spans, ops and event log."""
        _self_times(self.spans)
        jobs, stage_metrics = read_event_log(log_dir, app_id)
        timed = [o for o in self.ops if o["timed"]]
        n = max(len(timed), 1)
        out: dict = {}

        per_op = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["op"] is not None:
                per_op[s["name"]][s["op"]] += s["self"]
        timed_ids = {o["id"] for o in timed}
        for span_name, metric in SPAN_METRICS.items():
            vals = [v for op_id, v in per_op[span_name].items() if op_id in timed_ids]
            out[metric] = statistics.median(vals) if vals else 0.0
        start = next(s for s in self.spans if s["name"] == "session.get_spark")
        out["session.get_spark_s"] = start["end"] - start["start"]

        sums = defaultdict(float)
        for o in timed:
            spans = [s for s in self.spans if s["op"] == o["id"] and s["parent"] is None]
            wall = sum(s["end"] - s["start"] for s in spans)
            lo = min((s["start"] for s in spans), default=0.0)
            hi = max((s["end"] for s in spans), default=0.0)
            intervals = [
                (jobs[j]["submit"] / 1e3, jobs[j]["end"] / 1e3)
                for j in o["jobs"] if j in jobs and "submit" in jobs[j] and "end" in jobs[j]
            ]
            sums["spark.driver_only_s"] += max(wall - _covered(intervals, lo, hi), 0.0)
            sums["spark.jobs"] += len(o["jobs"])
            sums["spark.stages"] += o["stages"]
            sums["spark.tasks"] += o["tasks"]
            for sid in {sid for j in o["jobs"] for sid in jobs.get(j, {}).get("stages", [])}:
                for k, v in stage_metrics.get(sid, {}).items():
                    sums[f"spark.{k}"] += v
            for op_name in STORAGE_OPS:
                c = o["storage"][op_name]
                sums[f"sources.storage.{op_name}.n"] += c[0]
                sums[f"sources.storage.{op_name}.bytes"] += c[1]
                sums[f"sources.storage.{op_name}.busy_s"] += c[2]
            sums["manifest_reads"] += o["storage"]["manifest_reads"]
            sums["changed_rows"] += o["changed_rows"]
            sums["bookkeeping_s"] += o["bookkeeping_s"]
        for k in ["spark.driver_only_s", "spark.jobs", "spark.stages", "spark.tasks"] + [
            f"spark.{m}" for m in TASK_METRICS
        ]:
            out[k] = sums[k] / n
        for op_name in STORAGE_OPS:
            for suffix in ("n", "bytes", "busy_s"):
                k = f"sources.storage.{op_name}.{suffix}"
                out[k] = sums[k] / n
        out["storage.manifest_reads_per_stmt"] = sums["manifest_reads"] / n
        written = sums["sources.storage.put_atomic.bytes"] + sums["sources.storage.put_file_atomic.bytes"]
        out["storage.bytes_written_per_changed_row"] = (
            written / sums["changed_rows"] if sums["changed_rows"] else 0.0
        )
        out["trace.bookkeeping_s"] = sums["bookkeeping_s"] / n

        writes = [o for o in timed if o["family"] in WRITE_FAMILIES]
        nw = max(len(writes), 1)
        out["sources.snapshot.rewritten_files"] = sum(o.get("stats", {}).get("rewritten_files", 0) for o in writes) / nw
        out["sources.snapshot.dv_files_written"] = sum(o.get("stats", {}).get("delete_files", 0) for o in writes) / nw
        out["sources.snapshot.added_files"] = sum(o["added_files"] for o in writes) / nw
        for k in ("snapshot.visible_files", "snapshot.dv_files"):
            vals = self.gauges.get(k)
            out[k] = statistics.mean(vals) if vals else 0.0
        return out

    def dump(self, path: str, extra: dict) -> None:
        """Write spans, per-op records and per-layer self-time totals."""
        layers = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            lay = layers[s["name"]]
            lay["calls"] += 1
            lay["total_s"] += s["end"] - s["start"]
            lay["self_s"] += s.get("self", 0.0)
        with open(path, "w") as fh:
            json.dump({**extra, "layers": layers, "ops": self.ops, "spans": self.spans}, fh)
