"""Run one workload of the ACON benchmark and print its metrics.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 8 --trace 0

One process is one closed-loop client: it submits the next ``load_data``
call only after the previous one returned, on ``local[N]`` with N the
number of usable cores. After set-up and one unmeasured warm-up run, it
repeats the workload's ACON until ``--seconds`` have passed, checking every
run's output against DuckDB.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log, alternates traced runs (layer entry points wrapped, see
``trace.py``) with untraced ones, and reports the per-layer metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
print every metric by name with its unit. Everything the run writes stays
under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path
from typing import Dict, List, Optional

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import layers, oracle, procstat, trace, workloads  # noqa: E402
from perfbench.stats import median, percentile, tail_percentile  # noqa: E402

DRIVER_MEMORY = "2g"
STREAM_EVENT_WAIT_S = 10.0

END_TO_END_UNITS = {
    "setup_s": "s", "run_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "write_amp": "B/B", "batch_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> List[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def session_config(work: Path, trace: bool) -> Dict[str, str]:
    """Spark settings passed through ``ExecEnv.get_or_create(config=...)``.
    Every path points inside the work directory."""
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            # no zstandard module here, and the reader wants one plain file
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def prepare_env(work: Path) -> None:
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # files and native-library extractions here, and skip /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())


def setup_session(work: Path, trace: bool):
    """Set-up as a user pays it: import the engine, create the session
    through ``ExecEnv``, and run one tiny job. Returns (spark, seconds)."""
    t0 = time.perf_counter()
    from lakehouse_engine_spark.core.exec_env import ExecEnv

    spark = ExecEnv.get_or_create(config=session_config(work, trace))
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    from lakehouse_engine_spark.core.exec_env import ExecEnv

    spark.stop()
    ExecEnv.SESSION = None
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fs_bytes_written(spark) -> int:
    """Bytes the JVM has written through Hadoop's local file system:
    table files, checkpoints and commit metadata (not shuffle or spill)."""
    jvm = spark.sparkContext._jvm
    total = 0
    for st in jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics():
        if st.getScheme() == "file":
            total += st.getBytesWritten()
    return total


def make_listener():
    """Collects StreamingQueryProgress per micro-batch (batch_s and the
    per-trigger planning time)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: List[dict] = []
            self.terminated = 0
            self.cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.cond:
                self.batches.append({
                    "batch_id": p.batchId,
                    "batch_s": p.batchDuration / 1000.0,
                    "plan_s": p.durationMs.get("queryPlanning", 0) / 1000.0,
                    "rows": p.numInputRows,
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cond:
                self.terminated += 1
                self.cond.notify_all()

        def wait_terminated(self, count: int) -> None:
            with self.cond:
                self.cond.wait_for(lambda: self.terminated >= count, STREAM_EVENT_WAIT_S)

    return Progress()


def one_run(spark, wl, con, listener, tracer, traced: bool) -> dict:
    """Reset the outputs, time one ``load_data`` call, check the output."""
    from lakehouse_engine_spark import load_data

    wl.reset(spark)
    acon = wl.acon()
    pids = procstat.tree(os.getpid())
    procstat.reset_peak_rss(pids)
    cpu0 = procstat.cpu_seconds(pids)
    fs0 = fs_bytes_written(spark)
    n_batches, n_term = len(listener.batches), listener.terminated
    error = None
    epoch0 = time.time()
    t0 = time.perf_counter()
    try:
        if traced:
            tracer.run += 1
            with trace.instrument(tracer), tracer.span("run"):
                load_data(acon)
        else:
            load_data(acon)
    except Exception:  # noqa: BLE001 — a failed run is counted, the loop goes on
        error = traceback.format_exc()
    run_s = time.perf_counter() - t0
    epoch1 = time.time()
    pids = procstat.tree(os.getpid())
    rec = {
        "traced": traced,
        "run": tracer.run if traced else None,
        "start_ms": epoch0 * 1000, "end_ms": epoch1 * 1000,
        "run_s": run_s,
        "cpu_s": procstat.cpu_seconds(pids) - cpu0,
        "peak_rss_mb": procstat.peak_rss_bytes(pids) / 2**20,
        "bytes_written": fs_bytes_written(spark) - fs0,
    }
    if wl.streaming:
        listener.wait_terminated(n_term + 1)
        rec["batches"] = listener.batches[n_batches:]
    problems = [error] if error else workloads.check(wl, con)
    out_bytes = wl.output_bytes()
    rec["output_bytes"] = out_bytes
    rec["write_amp"] = rec["bytes_written"] / out_bytes if out_bytes else 0.0
    rec["problems"] = problems
    for p in problems:
        print(p, file=sys.stderr)
    return rec


def end_to_end(setup_s: float, runs: List[dict]) -> Dict[str, float]:
    ok = [r for r in runs if not r["problems"]] or runs
    # a streaming run reports each micro-batch; a batch ACON is one batch
    batch = []
    for r in ok:
        if "batches" in r:
            batch.extend(b["batch_s"] for b in r["batches"])
        else:
            batch.append(r["run_s"])
    return {
        "setup_s": setup_s,
        "run_s": median([r["run_s"] for r in ok]),
        "cpu_s": median([r["cpu_s"] for r in ok]),
        "peak_rss_mb": median([r["peak_rss_mb"] for r in ok]),
        "write_amp": median([r["write_amp"] for r in ok]),
        "batch_s": median(batch),
    }


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("lakehouse_engine_spark") is None:
        print(f"lakehouse_engine_spark not found under {ROOT}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    traced_mode = bool(args.trace)
    base = Path.cwd() / ".perfbench_work"
    work = base / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    load_start = loadavg()

    spark, setup_s = setup_session(work, traced_mode)
    tracer = trace.Tracer(spark.sparkContext)
    runs: List[dict] = []
    warmup: dict = {}
    con = oracle.connect(str(work / "tmp"))
    try:
        wl = workloads.WORKLOADS[args.workload](str(work / "data"), args.seed)
        wl.prepare(con)
        listener = make_listener()
        spark.streams.addListener(listener)

        warmup = one_run(spark, wl, con, listener, tracer, traced=False)
        deadline = time.perf_counter() + args.seconds
        while True:
            traced = traced_mode and len(runs) % 2 == 0
            runs.append(one_run(spark, wl, con, listener, tracer, traced))
            # a traced process needs one untraced run to report the overhead
            if time.perf_counter() >= deadline and len(runs) >= 1 + traced_mode:
                break
    finally:
        con.close()
        stop_session(spark)

    failed = sum(1 for r in runs if r["problems"])
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc(), "loadavg_start": load_start, "loadavg_end": loadavg(),
        "sizes": wl.sizes(), "setup_s": setup_s,
        "warmup_run_s": warmup.get("run_s"), "runs": runs,
    }
    if traced_mode:
        metrics, units, detail = layers.per_layer(work, tracer, runs, setup_s, wl)
        record["layers"] = detail
        record["spans"] = tracer.dump()
    else:
        metrics = end_to_end(setup_s, runs)
        units = END_TO_END_UNITS
    record["metrics"] = metrics

    records = base / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    run_times = [r["run_s"] for r in runs]
    print(f"# {args.workload} seed={args.seed} nproc={record['nproc']} "
          f"loadavg {load_start[0]:.2f} -> {record['loadavg_end'][0]:.2f} "
          f"runs={len(runs)} failed={failed} failed_ratio={failed / len(runs):.3f}")
    q = tail_percentile(len(run_times))
    tail = f", p{q:g} {percentile(run_times, q):.4f} s" if q else ""
    print(f"# run_s median {median(run_times):.4f} s{tail} over {len(run_times)} runs; "
          f"warm-up {warmup.get('run_s', 0):.3f} s")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    result = {
        "correct": failed == 0 and not warmup.get("problems"),
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
