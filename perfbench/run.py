#!/usr/bin/env python3
"""perfbench: a closed-loop, one-client benchmark of dask_awkward_spark.

Run from the repository root:

    python3 perfbench/run.py --workload nested_scan --seed 1 --seconds 30 --trace 0

One process, one client: each op is sent only after the previous one has
returned, on a Spark session at local[<cores>]. A run

1. pins the host settings and makes a fresh scratch directory under
   ``.perfbench_run/`` (deleted at exit);
2. starts the session once (the JVM launch), then generates and writes
   the inputs ``SETUP_REPS`` times on it; ``setup_s`` is the session
   start plus the median input set-up;
3. warms up with a fixed number of whole passes of the op mix
   (``warmup_s``);
4. runs a fixed, seed-derived op sequence of a fixed length per workload
   (``--seconds`` does not change it); every op's answer is checked
   against a reference computed from the generated inputs;
5. prints every metric by name, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
   BENCHMARK.json with ``--trace 0``, its per-layer metrics with
   ``--trace 1``).

The exit code is 1 when an op raises or an output check fails, and 2
when the package cannot be imported. ``--trace 1`` also writes the spans
and per-op records to ``.perfbench_traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# latency reported for a percentile that falls on a failed op: a failed op
# misses every latency limit
LIMIT_MISSED_S = 1e9


def pin_host(scratch: str, trace: bool) -> dict:
    """Pin the settings a run depends on, so every run uses the same ones,
    and keep every file Spark and the JVM write inside ``scratch``."""
    for k in list(os.environ):
        if k.startswith(("SPARK_GRAFT_", "DAK_SNAPSHOT_")):
            del os.environ[k]
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal")) >> 20
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    conf = [f"spark.sql.warehouse.dir={scratch}/warehouse"]
    if trace:
        os.makedirs(os.path.join(scratch, "eventlog"))
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{scratch}/eventlog",
            "spark.eventLog.compress=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of RAM, at most 4g: the inputs are tens of MB
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, total_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def percentile(values: "list[float]", q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    v = s[max(0, math.ceil(q * len(s)) - 1)]
    return LIMIT_MISSED_S if math.isinf(v) else v


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM that pyspark started, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class Client:
    """The one closed-loop client: runs ops one at a time, times them and
    checks their answers."""

    def __init__(self, tr):
        self.tr = tr
        self.attempted = self.failed = 0
        self.mismatches: "list[str]" = []
        self.errors: "list[str]" = []

    def run(self, op, timed: bool) -> "tuple[float, bool]":
        """The op's elapsed time in seconds (up to the point it raised,
        if it did) and whether it returned."""
        self.attempted += 1
        self.tr.begin_op(op.family, timed)
        t0 = time.perf_counter()
        try:
            with self.tr.span("op", family=op.family):
                result = op.run(self.tr)
        except Exception:  # noqa: BLE001 - a failed op is counted, never fatal
            dt = time.perf_counter() - t0
            self.failed += 1
            self.errors.append(f"{op.family}: {traceback.format_exc(limit=3)}")
            self.tr.end_op(op, None)
            return dt, False
        dt = time.perf_counter() - t0
        self.tr.end_op(op, result)
        self.check(op.family, op.check, result)
        return dt, True

    def check(self, what: str, check, *args) -> None:
        try:
            err = check(*args)
        except Exception:  # noqa: BLE001 - an answer the check cannot read is wrong
            err = traceback.format_exc(limit=3)
        if err:
            self.mismatches.append(f"{what}: {err}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    # a terminated run still stops its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    scratch = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        return run(args, spec, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(scratch))


def run(args, spec: dict, scratch: str) -> int:
    settings = pin_host(scratch, bool(args.trace))
    sys.path[:0] = [ROOT]
    try:
        from dask_awkward_spark import get_spark, set_storage_backend
        from bench import host_telemetry
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    import spans
    import workloads

    host_start = host_telemetry()
    tr = spans.Tracer() if args.trace else spans.NullTracer()
    prev_backend = set_storage_backend(tr.storage) if args.trace else None
    wl = workloads.WORKLOADS[args.workload](args.seed)
    client = Client(tr)
    spark = None
    try:
        # the session starts once, cold, as a user's does; the input
        # set-up repeats on it and the median counts
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        input_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(spark, tr, os.path.join(scratch, f"setup{rep}"))
            input_times.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(scratch, f"setup{rep - 1}"))
        if args.trace:
            tr.attach(spark)

        rng = random.Random(args.seed)
        warm = wl.warmup(rng)
        timed = wl.passes(rng, wl.n_passes)
        warmup_s = sum(client.run(op, timed=False)[0] for op in warm)

        lat, by_family, window = [], {}, 0.0
        for op in timed:
            if args.trace and op.family == "compact":
                tr.gauge(wl.gauges())
            dt, ok = client.run(op, timed=True)
            window += dt
            # a failed op misses every latency limit
            lat.append(dt if ok else math.inf)
            by_family.setdefault(op.family, []).append(lat[-1])
        client.check("final state", wl.final_check)
        app_id = spark.sparkContext.applicationId
    finally:
        if prev_backend is not None:
            set_storage_backend(prev_backend)
        if spark is not None:
            stop_jvm(spark)
    host_end = host_telemetry()

    measured = {
        "setup_s": session_s + statistics.median(input_times),
        "warmup_s": warmup_s,
        "op_s.p50": percentile(lat, 0.50),
        "op_s.p90": percentile(lat, 0.90),
        # the window holds every timed op, a failed one up to its raise
        "ops_per_s": sum(not math.isinf(t) for t in lat) / window,
        "failed_ratio": client.failed / client.attempted,
    }
    for fam, ts in by_family.items():
        measured[f"{fam}_s.p50"] = percentile(ts, 0.50)
    if args.trace:
        measured.update(tr.report(os.path.join(scratch, "eventlog"), app_id))
        measured["trace.op_s.p50"] = measured["op_s.p50"]

    # the op families of the other workloads have no latency here; they read 0
    absent = {
        f"{fam}_s.p50"
        for w in workloads.WORKLOADS.values() if w.name != args.workload
        for fam in w.families
    }
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        if m["name"] not in measured and m["name"] not in absent:
            raise KeyError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}

    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"timed_ops={len(timed)} warmup_ops={len(warm)} setup_reps={SETUP_REPS}")
    print(f"# settings {json.dumps(settings, sort_keys=True)}")
    print(f"# host_start {json.dumps(host_start, sort_keys=True)}")
    print(f"# host_end {json.dumps(host_end, sort_keys=True)}")
    for name in sorted(measured):
        print(f"{name} {measured[name]:.6g}")
    for e in client.errors:
        print(f"# failed op:\n{e}")
    for e in client.mismatches:
        print(f"# MISMATCH {e}")
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        tr.dump(path, {"workload": args.workload, "seed": args.seed, "metrics": measured,
                       "settings": settings, "host_start": host_start, "host_end": host_end})
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
    correct = not client.mismatches and not client.errors
    print(json.dumps({
        "correct": correct,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
