"""One benchmark run: set-up, the timed part, the checks, the traced run."""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from pyspark import SparkContext

from har2tree_spark.session import get_spark
from perfbench import checks, layers, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"  # fits next to the Python workers on a 15 GB host
# a run must end within 180 s: the watchdog plus the worst-case shutdown
# in Engine.close (20 s for the JVM, 10 s for its Python workers)
WATCHDOG_S = 130
# setup_s is the median of these restarts of the session in the warm JVM;
# the cold start (JVM launch included) is the per-layer session.cold_start_s.
# The traced run reports only the cold start, so it skips the restarts.
SETUP_RESTARTS = 3
# Spark settings the package derives from SPARK_GRAFT_* variables; their
# effective values are read back from the running session
GRAFT_CONF = (
    "spark.shuffle.sort.bypassMergeThreshold",
    "spark.python.unix.domain.socket.enabled",
)


def host_conditions(cores: int) -> dict:
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = "unknown"  # a checkout without .git
    # variables left unset take the package's defaults; parallelism is
    # passed to get_spark, so SPARK_GRAFT_CPUS is never read
    knobs = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    return {
        "nproc": cores,
        "load1_at_start": os.getloadavg()[0],
        "git_sha": sha,
        "spark_graft_env_set": dict(sorted(knobs.items())),
    }


def metric_spec(section: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[section]


class Engine:
    """The run's Spark session: started and restarted here; ``close`` stops
    the JVM and waits for its Python workers."""

    def __init__(self, cores: int, tmp_dir: str) -> None:
        self.cores = cores
        self.tmp_dir = tmp_dir
        self.spark = None

    def start(self, extra_conf: dict[str, str] | None = None) -> float:
        """Stop any running session, then time ``get_spark`` plus one
        warm-up job that starts the Python workers."""
        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.tmp_dir,
            "spark.sql.warehouse.dir": os.path.join(self.tmp_dir, "warehouse"),
            **(extra_conf or {}),
        }
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", parallelism=self.cores, driver_memory=DRIVER_MEMORY, extra_conf=conf
        )
        self.spark.range(0, 1 << 14, numPartitions=self.cores).mapInPandas(
            lambda it: it, "id long"
        ).count()
        return time.perf_counter() - t0

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        children = tracing.descendants(os.getpid())
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is stopped below either way
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the Python workers are the JVM's children: wait for them as well
        deadline = time.monotonic() + 10
        alive = children
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def measure(engine: Engine, wl: workloads.Workload, seed: int, seconds: float,
            run_dir: str, restarts: int) -> dict:
    """The untraced run: the cold start, the warm-up, set-up restarts, the
    timed part and the checks. The restarts follow the warm-up, so the JIT
    can finish compiling before the timed part starts."""
    phases = {}
    cold = engine.start()
    conf = {k: engine.spark.conf.get(k) for k in GRAFT_CONF}
    t0 = time.perf_counter()
    input_dir = workloads.prepare_input(engine.spark, wl, seed, os.path.join(WORK, "cache"))
    phases["input_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    out_dir = os.path.join(run_dir, "out")
    warm_attempted, warm_failed = workloads.warm_up(engine.spark, wl, input_dir, out_dir)
    phases["warm_s"] = time.perf_counter() - t0
    setup = [engine.start() for _ in range(restarts)]
    t0 = time.perf_counter()
    if wl.streaming:
        timed = workloads.run_stream(engine.spark, wl, input_dir, out_dir)
        check = checks.check_stream
    else:
        timed = workloads.run_batch(engine.spark, wl, input_dir, out_dir, seconds)
        check = checks.check_batch
    phases["timed_s"] = time.perf_counter() - t0
    timed.attempted += warm_attempted
    timed.failed += warm_failed
    t0 = time.perf_counter()
    if timed.failed:
        errors = [f"{timed.failed} of {timed.attempted} operations failed"]
    else:
        errors = check(engine.spark, wl, input_dir, out_dir, seed)
    phases["check_s"] = time.perf_counter() - t0
    return {
        "phases": phases,
        "input_dir": input_dir,
        "timed": timed,
        "cold_start_s": cold,
        "setup": setup,
        "spark_conf": conf,
        "errors": errors,
        "values": {
            "docs_per_s": timed.docs_per_s,
            "batch_latency_p50_s": statistics.median(timed.batch_s),
            "setup_s": statistics.median(setup or [cold]),
        },
    }


def traced(engine: Engine, wl: workloads.Workload, base: dict, run_dir: str,
           spans: tracing.Spans, sampler: tracing.RssSampler) -> dict:
    """The same input again, each layer on its own, with the event log on.
    Returns every per-layer metric."""
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    engine.start({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one plain JSON-lines file
    })
    spark = engine.spark
    src = os.path.join(base["input_dir"], "docs")
    values: dict[str, float] = {}
    with spans.span("traced"):
        if wl.streaming:
            # a traced drain for the overhead ratio; the layers then run on
            # one micro-batch's file
            with spans.span("drain"):
                wall, _, _ = workloads.drain(spark, src, os.path.join(run_dir, "traced"))
            traced_docs_per_s = wl.total_docs / wall
            docs_path = workloads.parquet_files(src)[0]
        else:
            docs_path = src
        run = layers.LayeredRun(spark, spans, wl.mode)
        run.run(docs_path, os.path.join(run_dir, "layered"))
        if not wl.streaming:
            traced_docs_per_s = wl.n_docs / run.wall_s()
        with spans.span("counts"):
            values.update(run.counts())
        with spans.span("kernel"):
            batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            values.update(run.kernel(batch_rows))
    engine.close()  # flushes the event log
    by_layer = tracing.layer_metrics(tracing.read_event_log(log_dir), layers.LAYERS)
    for name in layers.LAYERS:
        m = by_layer[name]
        wall = spans.duration(name)
        values[f"{name}.wall_s"] = wall
        values[f"{name}.rows_out"] = run.rows[name]
        values[f"{name}.slot_util"] = m["executor_run_s"] / (wall * engine.cores)
        values.update({f"{name}.{k}": v for k, v in m.items()})
    # summed over the micro-batches of the timed drain; 0 on batch workloads
    durations = [p["durationMs"] for p in base["timed"].progress or []]
    values["streaming.batches"] = len(durations)
    for metric, key in (("plan_s", "queryPlanning"), ("add_batch_s", "addBatch"),
                        ("wal_s", "walCommit")):
        values[f"streaming.{metric}"] = sum(d.get(key, 0) for d in durations) / 1e3
    values["session.cold_start_s"] = base["cold_start_s"]
    values["trace.overhead_ratio"] = base["values"]["docs_per_s"] / traced_docs_per_s
    values["proc.peak_rss_mb"] = sampler.peak_rss_kb / 1024
    values["proc.python_workers_peak"] = sampler.peak_workers
    return values


def main(args) -> int:
    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}, expected one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # the executors' Python workers import the engine by reference
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    cores = len(os.sched_getaffinity(0))
    host = host_conditions(cores)
    run_dir = os.path.join(WORK, "runs", f"{wl.name}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    engine = Engine(cores, os.path.join(run_dir, "tmp"))
    spans = tracing.Spans()
    try:
        with tracing.RssSampler() as sampler:
            base = measure(engine, wl, args.seed, args.seconds, run_dir,
                           0 if args.trace else SETUP_RESTARTS)
            if args.trace:
                values = traced(engine, wl, base, run_dir, spans, sampler)
            else:
                values = base["values"]
    finally:
        engine.close()
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        spans.write(os.path.join(WORK, "spans", f"{wl.name}-seed{args.seed}-{spans.run_id}.jsonl"))

    timed = base["timed"]
    correct = not base["errors"]
    failed = timed.attempted if not correct else timed.failed
    for err in base["errors"]:
        print(f"CHECK FAILED: {err}")
    print(json.dumps({"host": {**host, "spark_conf": base["spark_conf"]}}))
    print(f"workload={wl.name} seed={args.seed} batch_samples={len(timed.batch_s)} "
          f"setup_restarts={len(base['setup'])} cold_start_s={base['cold_start_s']:.2f} "
          + " ".join(f"{k}={v:.2f}" for k, v in base["phases"].items()))
    print("batch_s=" + ",".join(f"{x:.3f}" for x in timed.batch_s)
          + " setup_restarts_s=" + ",".join(f"{x:.3f}" for x in base["setup"]))
    units = {m["name"]: m["unit"] for m in metric_spec("end_to_end")}
    for name, value in base["values"].items():
        print(f"{name} = {value:.6g} {units[name]}")
    # printed, not listed: fewer than ten samples lie beyond it
    print(f"batch_latency_p75_s = {workloads.percentile(timed.batch_s, 0.75):.6g} s")
    print(f"error_rate = {failed / timed.attempted:.6g} ratio")
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in metric_spec("per_layer" if args.trace else "end_to_end")
    }
    print(json.dumps({
        "correct": correct,
        "attempted": timed.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct and failed == 0 else 1
