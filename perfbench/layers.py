"""Per-layer metrics of a traced run: span self times plus event-log counters.

``PREDICTIONS`` records, before any optimisation is measured, which
end-to-end metric each layer metric should move and on which workload.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path
from typing import Dict, List, Tuple

from perfbench import eventlog
from perfbench.stats import median
from perfbench.trace import Span, Tracer, self_times

# job groups reported one by one; "other" holds jobs no layer span tagged,
# such as the streaming engine's own
GROUPS = ("io_read", "transformers", "dq", "io_write", "terminators", "other")

LAYER_SPANS = {
    "algorithms.parse_s": "algorithms.parse",
    "io.read_s": "io.read",
    "transformers.compose_s": "transformers.compose",
    "spark.plan_s": "spark.plan",
    "dq.run_s": "dq.run",
    "io.write_s": "io.write",
    "terminators.run_s": "terminators.run",
}
LAYER_JOBS = {
    "io.read_jobs": "io_read",
    "transformers.compose_jobs": "transformers",
    "dq.jobs": "dq",
    "io.write_jobs": "io_write",
    "terminators.jobs": "terminators",
}


def _units() -> Dict[str, str]:
    units = {"core.session_s": "s"}
    units.update({k: "s" for k in LAYER_SPANS})
    units.update({k: "count" for k in LAYER_JOBS})
    units.update({
        "io.input_bytes": "B",
        "io.stream.plan_s": "s",
        "io.bytes_written": "B",
        "io.files_written": "count",
        "io.merge_rewrite_ratio": "ratio",
        "transformers.py4j_calls": "count",
        "transformers.probe_job_share": "ratio",
        "spark.jobs": "count",
    })
    spark_units = {"tasks": "count", "executor_cpu_s": "s", "executor_run_s": "s", "gc_s": "s",
                   "shuffle_read_bytes": "B", "shuffle_write_bytes": "B", "spill_bytes": "B"}
    python_units = {"rows": "count", "bytes_sent": "B", "bytes_received": "B"}
    for prefix, table in (("spark", spark_units), ("python", python_units)):
        for c, u in table.items():
            units[f"{prefix}.{c}"] = u
            for g in GROUPS:
                units[f"{prefix}.{c}.{g}"] = u
    units.update({"trace.run_s": "s", "trace.untraced_run_s": "s",
                  "trace.overhead_s": "s", "trace.span_coverage": "ratio"})
    return units


METRIC_UNITS = _units()

PREDICTIONS = {
    "core.session_s": "setup_s on all workloads",
    "algorithms.parse_s": "run_s on cdc_merge_stream",
    "io.read_s": "run_s on all; largest share on cdc_merge_stream",
    "io.read_jobs": "run_s on all; largest share on cdc_merge_stream",
    "io.input_bytes": "run_s on all; largest share on cdc_merge_stream",
    "transformers.compose_s": "run_s on curation; about none on batch_etl",
    "transformers.compose_jobs": "run_s on curation; about none on batch_etl",
    "transformers.py4j_calls": "run_s on curation; about none on batch_etl",
    "transformers.probe_job_share": "run_s on curation; about none on batch_etl",
    "spark.plan_s": "run_s on batch_etl",
    "io.stream.plan_s": "batch_s on cdc_merge_stream",
    "dq.run_s": "run_s on batch_etl",
    "dq.jobs": "run_s on batch_etl",
    "io.write_s": "write_amp and batch_s on cdc_merge_stream; run_s on batch_etl",
    "io.write_jobs": "write_amp and batch_s on cdc_merge_stream; run_s on batch_etl",
    "io.bytes_written": "write_amp and batch_s on cdc_merge_stream; run_s on batch_etl",
    "io.files_written": "write_amp and batch_s on cdc_merge_stream; run_s on batch_etl",
    "io.merge_rewrite_ratio": "write_amp and batch_s on cdc_merge_stream",
    "terminators.run_s": "run_s on batch_etl",
    "terminators.jobs": "run_s on batch_etl",
    "spark.*": "cpu_s on all workloads; run_s on batch_etl",
    "python.*": "cpu_s and run_s on curation; 0 on batch_etl",
}


def _event_log(work: Path) -> Path:
    files = [p for p in (work / "eventlog").iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {work / 'eventlog'}, found {files}")
    return files[0]


def _run_metrics(spans: List[Span], selft: Dict[int, float],
                 groups: Dict[str, eventlog.Counters], run: dict, rows_changed) -> Dict[str, float]:
    m: Dict[str, float] = {}
    for metric, name in LAYER_SPANS.items():
        m[metric] = sum(selft[s.id] for s in spans if s.name == name)

    # counters per layer group, folding the per-transformer groups together
    by_layer: Dict[str, eventlog.Counters] = defaultdict(eventlog.Counters)
    for g, c in groups.items():
        layer = by_layer[g.split(":")[0]]
        layer.jobs += c.jobs
        for k, v in c.values.items():
            layer.values[k] += v
    total_jobs = sum(c.jobs for c in by_layer.values())
    for metric, g in LAYER_JOBS.items():
        m[metric] = by_layer[g].jobs
    m["spark.jobs"] = total_jobs
    m["transformers.probe_job_share"] = (
        by_layer["transformers"].jobs / total_jobs if total_jobs else 0.0)
    m["transformers.py4j_calls"] = sum(
        s.py4j_calls for s in spans if s.name == "transformers.compose")
    m["io.input_bytes"] = sum(c.values["input_bytes"] for c in by_layer.values())
    w = by_layer["io_write"].values
    m["io.bytes_written"] = w["bytes_written"]
    m["io.files_written"] = w["files_written"]
    m["io.merge_rewrite_ratio"] = w["records_written"] / rows_changed if rows_changed else 0.0
    m["io.stream.plan_s"] = sum(b["plan_s"] for b in run.get("batches", []))
    for c in eventlog.SPARK_COUNTERS:
        m[f"spark.{c}"] = sum(x.values[c] for x in by_layer.values())
        for g in GROUPS:
            m[f"spark.{c}.{g}"] = by_layer[g].values[c]
    for c in eventlog.PYTHON_COUNTERS:
        m[f"python.{c}"] = sum(x.values["python_" + c] for x in by_layer.values())
        for g in GROUPS:
            m[f"python.{c}.{g}"] = by_layer[g].values["python_" + c]

    root = next(s for s in spans if s.name == "run")
    top = sum(s.end - s.start for s in spans if s.parent == root.id)
    m["trace.span_coverage"] = top / (root.end - root.start)
    return m


def _breakdown(spans: List[Span], selft: Dict[int, float],
               groups: Dict[str, eventlog.Counters]) -> Dict[str, Dict[str, float]]:
    """Per (spec_id, function) transformer: self time, py4j calls, jobs."""
    out: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.name == "transformers.compose":
            key = f"{s.attrs.get('spec_id')}/{s.attrs.get('function')}"
            out[key]["self_s"] += selft[s.id]
            out[key]["py4j_calls"] += s.py4j_calls
    for g, c in groups.items():
        if g.startswith("transformers:"):
            key = g.split(":", 1)[1]
            out[key]["jobs"] += c.jobs
            out[key]["tasks"] += c.values["tasks"]
            out[key]["python_rows"] += c.values["python_rows"]
    return out


def per_layer(work: Path, tracer: Tracer, runs: List[dict], setup_s: float,
              wl) -> Tuple[Dict[str, float], Dict[str, str], dict]:
    """Median over the traced runs of every per-layer metric, plus the
    per-transformer breakdown and the prediction map for the record."""
    traced = [r for r in runs if r["traced"]]
    untraced = [r for r in runs if not r["traced"]]
    intervals = [(r["run"], r["start_ms"], r["end_ms"]) for r in traced]
    counts = eventlog.counters(eventlog.read_events(str(_event_log(work))), intervals)
    selft = self_times(tracer.spans)
    by_run: Dict[int, List[Span]] = defaultdict(list)
    for s in tracer.spans:
        by_run[s.run].append(s)

    per_run, breakdowns = [], []
    for r in traced:
        per_run.append(_run_metrics(by_run[r["run"]], selft, counts.get(r["run"], {}), r,
                                    wl.rows_changed))
        breakdowns.append(_breakdown(by_run[r["run"]], selft, counts.get(r["run"], {})))

    metrics = {"core.session_s": setup_s}
    for k in per_run[0]:
        metrics[k] = median([m[k] for m in per_run])
    metrics["trace.run_s"] = median([r["run_s"] for r in traced])
    metrics["trace.untraced_run_s"] = (
        median([r["run_s"] for r in untraced]) if untraced else metrics["trace.run_s"])
    metrics["trace.overhead_s"] = metrics["trace.run_s"] - metrics["trace.untraced_run_s"]
    metrics = {k: metrics[k] for k in METRIC_UNITS}

    keys = sorted({k for b in breakdowns for k in b})
    detail = {
        "transformers": {
            k: {f: median([b[k][f] if k in b else 0.0 for b in breakdowns])
                for f in ("self_s", "py4j_calls", "jobs", "tasks", "python_rows")}
            for k in keys
        },
        "predictions": PREDICTIONS,
        "per_run": per_run,
    }
    return metrics, METRIC_UNITS, detail
