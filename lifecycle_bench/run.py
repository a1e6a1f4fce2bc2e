"""Lifecycle benchmark: /segment → /tile → /prediction through the api jobs.

Run from the repository root:

    python3 lifecycle_bench/run.py --workload chip_lifecycle --seed 1 \
        --seconds 1 --trace 0

One client in one process drives the api jobs in a closed loop on one
Spark session at ``local[nproc]``.  After an untimed warm-up,
``--trace 0`` runs passes until ``--seconds`` of pass time have
elapsed (always at least one) and prints the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` runs an untraced and a traced pass plus
a layer-by-layer composition under Spark's event log and prints the
per-layer metrics.
Human-readable lines come first; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.bench_work/`` in the
repository root; the traced run keeps its spans and parsed counters in
``.bench_work/traces/``.
On every way out the run stops the session and waits for each process
it started, the JVM's orphaned helpers included.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import multiprocessing
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# fits a shared 15 GB host; get_session's default is 24g
DRIVER_MEMORY = "2g"

# layer spans, in the order api.py runs them
LAYERS = (
    "plans.segment.pixel_timeseries",
    "plans.segment.detect",
    "storage.overwrite_partitions.chip",
    "storage.overwrite_partitions.pixel",
    "storage.overwrite_partitions.segment",
    "plans.training.training_data",
    "operators.sampling.stratified_sample",
    "ml.train.train_model",
    "storage.overwrite_partitions.tile",
    "storage.read_partition.tile",
    "plans.prediction.prediction_inputs",
    "ml.predict.predict_probabilities",
    "operators.unions.default_predictions",
    "storage.overwrite_partitions.prediction",
)
LAYER_METRICS = (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("executor_run_s", "s"), ("shuffle_write_mb", "MB"),
                 ("rows_out", "rows"))
REQUESTS = ("run_segment_job", "run_tile_job", "run_prediction_job")
API_METRICS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
               ("executor_run_s", "s"), ("executor_cpu_s", "s"),
               ("shuffle_write_mb", "MB"), ("output_mb", "MB"),
               ("busy_ratio", "ratio"))


def log(t0: float, msg: str) -> None:
    print(f"[{time.perf_counter() - t0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler:
    """Peak of (driver JVM + driver Python) resident memory, sampled
    from /proc while the block runs."""

    def __init__(self, pids: list[int], interval: float = 0.02):
        self.files = [f"/proc/{p}/statm" for p in pids]
        self.interval = interval
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        rss = 0
        for f in self.files:
            with open(f) as fh:
                rss += int(fh.read().split()[1]) * self.page
        self.peak = max(self.peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def session_conf(work: str, event_dir: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.dir": "file://" + event_dir}
    return conf


def pin_environment(work: str) -> dict:
    """Process-wide settings the JVM and Python workers inherit."""
    n = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ |= {"SPARK_GRAFT_CPUS": str(n),
                   "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
                   "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                   "TMPDIR": tmp}
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": n, "master": f"local[{n}]",
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY}


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM's Python workers and helper
    shells outlive their parents), so ``reap_children`` can wait for
    every process the run started."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)


def proc_table() -> dict[int, list[str]]:
    """pid → the fields of /proc/<pid>/stat from the state on."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the process name, in parentheses, may hold spaces
                out[int(d)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def children() -> list[int]:
    me = os.getpid()
    return [pid for pid, f in proc_table().items() if int(f[1]) == me]


def reap_children(grace: float = 20.0) -> None:
    """Wait for every child to exit; after ``grace`` seconds send
    SIGTERM, then SIGKILL, to those still running."""
    deadline = time.monotonic() + grace
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, if it started, then the JVM launched for it,
    and wait for the JVM to exit (its Python workers stop with the
    context)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def end_to_end(passes, setup_s: float,
               peak_rss: int) -> tuple[dict, dict]:
    """(metrics every workload reports, metrics only printed).  The
    request medians are printed, not reported: not every workload
    issues every request.  Peak RSS is printed, not reported: it
    follows the JVM's heap sizing and spread too widely between runs
    to carry a bound (WORKLOADS.md)."""
    secs = {k: [r.seconds for p in passes for r in p.requests if r.kind == k]
            for k in REQUESTS}
    reported = {
        "chips_per_hour": (statistics.median(
            [p.chips / p.seconds * 3600 for p in passes]), "chips/h"),
        "setup_s": (setup_s, "s"),
    }
    printed = {f"{name}_s": (statistics.median(secs[k]), "s")
               for name, k in (("segment", "run_segment_job"),
                               ("tile", "run_tile_job"),
                               ("prediction", "run_prediction_job"))
               if secs[k]}
    printed["peak_rss_mb"] = (peak_rss / 1e6, "MB")
    return reported, printed


def per_layer(spans, groups, untraced_s: float, traced_s: float,
              n: int) -> dict:
    from tracing import by_name, span_counters
    named = by_name(spans, span_counters(spans, groups))
    out = {}

    def get(name):
        return named.get(name, {})

    for layer in LAYERS:
        c = get(layer)
        vals = {
            "wall_s": c.get("wall_s", 0.0),
            "jobs": c.get("jobs", 0),
            "tasks": c.get("tasks", 0),
            "executor_run_s": c.get("executor_run_ms", 0) / 1e3,
            "shuffle_write_mb": c.get("shuffle_write_bytes", 0) / 1e6,
            # sinks count the records they wrote
            "rows_out": c.get("rows_out") or c.get("output_records", 0),
        }
        for m, unit in LAYER_METRICS:
            out[f"{layer}.{m}"] = (vals[m], unit)
    for req in REQUESTS:
        c = get(f"api.{req}")
        wall = c.get("wall_s", 0.0)
        run_s = c.get("executor_run_ms", 0) / 1e3
        vals = {
            "jobs": c.get("jobs", 0), "stages": c.get("stages", 0),
            "tasks": c.get("tasks", 0), "executor_run_s": run_s,
            "executor_cpu_s": c.get("executor_cpu_ns", 0) / 1e9,
            "shuffle_write_mb": c.get("shuffle_write_bytes", 0) / 1e6,
            "output_mb": c.get("output_bytes", 0) / 1e6,
            "busy_ratio": run_s / (wall * n) if wall else 0.0,
        }
        for m, unit in API_METRICS:
            out[f"api.{req}.{m}"] = (vals[m], unit)
    ts = out["plans.segment.pixel_timeseries.shuffle_write_mb"][0]
    seg = out["api.run_segment_job.shuffle_write_mb"][0]
    out["api.run_segment_job.assembly_reruns"] = (seg / ts if ts else 0.0,
                                                  "ratio")
    out["trace.overhead_s"] = (traced_s - untraced_s, "s")
    return out


def measure(args, work: str, t0: float):
    """Set up, warm up, and run the timed passes (``--trace 0``) or the
    untraced, traced and composed passes (``--trace 1``)."""
    env = pin_environment(work)
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    sys.path.insert(0, ROOT)
    import pyspark

    from lcmap_blackmagic_spark.ml.train import HAVE_XGBOOST
    from lcmap_blackmagic_spark.session import get_session
    from tracing import Tracer, read_event_log
    from workloads import WORKLOADS, make_frame

    wl = WORKLOADS[args.workload](args.seed)
    # the fixtures are pure Python: generate them in forked workers
    # (forked before the JVM exists) while the session starts
    pool = multiprocessing.get_context("fork").Pool(
        min(env["nproc"], len(wl.jobs)))
    spark = None
    try:
        try:
            frames = pool.map_async(make_frame, wl.jobs)
            spark = get_session("lifecycle-bench",
                                extra_conf=session_conf(work, event_dir))
            spark.sparkContext.setLogLevel("ERROR")
            log(t0, "session started")
            frames = frames.get()
        finally:
            pool.terminate()
            pool.join()
        env |= {"spark": pyspark.__version__,
                "python": platform.python_version(), "seed": args.seed,
                "trainer": "xgboost" if HAVE_XGBOOST else "centroid",
                "console_progress": False}
        printed = {}
        wl.attach(spark, work)
        wl.setup(frames)
        del frames
        log(t0, "inputs written")
        warm, checks = wl.warm_up()
        passes = [warm]
        # setup_s covers the warm-up's output checks too
        setup_s = time.perf_counter() - t0
        log(t0, f"set up; setup_s={setup_s:.2f}")
        if not args.trace:
            pids = [os.getpid(), spark.sparkContext._jvm.java.lang
                    .ProcessHandle.current().pid()]
            timed, peak = [], 0
            while sum(p.seconds for p in timed) < args.seconds or not timed:
                # start each pass from a collected heap, so its peak
                # reflects the pass rather than earlier garbage
                spark.sparkContext._jvm.System.gc()
                gc.collect()
                with RssSampler(pids) as rss:
                    p = wl.run_pass()
                peak = max(peak, rss.peak)
                timed.append(p)
                log(t0, "pass " + " ".join(f"{r.kind}={r.seconds:.2f}"
                                           for r in p.requests))
                checks += wl.check_pass(p)
            passes += timed
            metrics, printed = end_to_end(timed, setup_s, peak)
        else:
            untraced = wl.run_pass()
            log(t0, f"untraced pass {untraced.seconds:.2f}s")
            checks += wl.check_pass(untraced)
            tracer = Tracer(spark.sparkContext)
            traced = wl.run_pass(tracer)
            log(t0, f"traced pass {traced.seconds:.2f}s")
            checks += wl.check_pass(traced)
            wl.compose(tracer)
            log(t0, "composition done")
            checks += wl.check_compose()
            passes += [untraced, traced]
        probes = wl.probes()
        log(t0, "checks done")
    finally:
        stop_spark(spark)
        log(t0, "spark stopped")

    if args.trace:
        # the event log is complete once the context has stopped
        groups = read_event_log(glob.glob(os.path.join(event_dir, "*"))[0])
        metrics = per_layer(tracer.spans, groups, untraced.seconds,
                            traced.seconds, env["nproc"])
        out_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, os.path.basename(work) + ".json"),
                    env=env, groups=groups,
                    metrics={k: v for k, (v, _) in metrics.items()})
    return env, passes, checks, probes, metrics, printed


def run(args) -> dict:
    t0 = time.perf_counter()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        env, passes, checks, probes, metrics, printed = measure(args, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    requests = [r for p in passes for r in p.requests]
    failed_req = sum(r.status != 200 for r in requests)
    failed_chk = sum(not c.ok for c in checks)
    attempted = len(requests) + len(checks)
    failed = failed_req + failed_chk
    print("env " + json.dumps(env))
    for c in checks + probes:
        if not c.ok or c in probes:
            print(f"check {c.name} {'ok' if c.ok else 'FAIL'} {c.detail}")
    print(f"checks {len(checks) - failed_chk}/{len(checks)} ok; "
          f"requests {len(requests) - failed_req}/{len(requests)} ok")
    if not args.trace:
        # the store_roundtrip probe counts here, not in ``failed``
        printed["error_rate"] = (
            (failed + sum(not c.ok for c in probes))
            / (attempted + len(probes)), "ratio")
    for k, (v, unit) in (metrics | printed).items():
        print(f"metric {k} {v:.6g} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["chip_lifecycle", "pool_train"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    become_subreaper()
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        reap_children()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
