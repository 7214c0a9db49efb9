"""Per-layer metrics of a traced run.

Layers are named by engine module. Wall times come from the benchmark's
spans, task totals from Spark's event log, and both are summed per pass
and reported as the median over traced passes.
"""

from __future__ import annotations

import os
import statistics

from spans import NCPU, covered, read_event_log, self_times

UNITS = {
    "session.start_s": "s", "setup.datagen_s": "s", "setup.warmup_s": "s",
    "setup.input_bytes": "bytes",
    "sources.build_s": "s", "sources.introspect_s": "s",
    "sources.scan_tasks": "count", "sources.input_bytes": "bytes",
    "convert.build_s": "s", "convert.exec_s": "s",
    "convert.output_bytes": "bytes",
    "kql.compile_s": "s", "kql.py4j_calls": "count", "kql.exec_s": "s",
    "text.score_s": "s",
    "dedup.minhash_s": "s", "dedup.clusters_s": "s",
    "dedup.cluster_jobs": "count", "dedup.recall": "1",
    "similarity.knn_s": "s", "similarity.recall_at_k": "1",
    "spark.plan_s": "s", "spark.tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.core_busy_frac": "1",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.persisted_rdds": "count",
    "host.exo_cpu_frac": "1",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s", "trace.unattributed_frac": "1",
    "failed_frac": "1",
}

#: job totals summed into spark.* metrics: metric -> JobStats field
JOB_SUMS = {
    "spark.tasks": "tasks", "spark.task_run_s": "run_s",
    "spark.task_cpu_s": "cpu_s", "spark.gc_s": "gc_s",
    "spark.spill_bytes": "spill_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "sources.scan_tasks": "scan_tasks", "sources.input_bytes": "input_bytes",
}


def exo_frac(p: dict) -> float:
    """Share of the machine's CPU other tenants used during a pass."""
    return p["exo_s"] / (NCPU * p["wall"]) if p["wall"] > 0 else 0.0


def attach_jobs(tracer, jobs) -> None:
    """Add each Spark job as a ``spark.job`` span under the innermost
    benchmark span it started in."""
    roots = {s.op: s.sid for s in tracer.spans if s.parent is None}
    for j in jobs:
        root = roots.get(j.group)
        if root is not None:
            # event-log times are whole milliseconds
            parent = tracer.innermost(j.start + 5e-4, root)
            tracer.add("spark.job", j.start, j.end, parent)


def _pass_layers(p: dict, spans: list, selfs: dict, jobs: list,
                 rpc_total: int, cpus: int) -> dict:
    """Layer numbers of one traced pass."""
    by_name: dict[str, float] = {}
    roots: dict[str, float] = {}
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is None:
            roots[s.name] = roots.get(s.name, 0.0) + s.dur
        else:
            by_name[s.name] = by_name.get(s.name, 0.0) + s.dur
            kids.setdefault(s.parent, []).append(s)
    conv_exec = sum(
        covered([(k.start, k.end) for k in kids.get(s.sid, ())
                 if k.name == "spark.job"], s.start, s.end)
        for s in spans if s.name == "operators.convert")
    conv_jobs = [j for j in jobs if j.group.split(":", 1)[1]
                 .startswith("convert.")]
    m = {
        "sources.build_s": by_name.get("sources.read_parquet", 0.0)
        + by_name.get("sources.load_table", 0.0),
        "sources.introspect_s": by_name.get("sources.introspect", 0.0),
        "convert.build_s": by_name.get("operators.convert", 0.0) - conv_exec,
        "convert.exec_s": conv_exec,
        "convert.output_bytes": sum(j.output_bytes for j in conv_jobs),
        "kql.compile_s": by_name.get("kql.compile", 0.0),
        "kql.py4j_calls": rpc_total,
        "kql.exec_s": by_name.get("kql.exec", 0.0),
        "text.score_s": roots.get("text.score", 0.0),
        "dedup.minhash_s": roots.get("dedup.minhash", 0.0),
        "dedup.clusters_s": roots.get("dedup.clusters", 0.0),
        "dedup.cluster_jobs": sum(j.group.endswith(":dedup.clusters")
                                  for j in jobs),
        "similarity.knn_s": roots.get("similarity.knn_ivf", 0.0)
        + roots.get("similarity.knn_bruteforce", 0.0),
        "spark.plan_s": sum(r["plan_s"] for r in p["ops"]),
        "spark.persisted_rdds": sum(r["persisted_rdds"] for r in p["ops"]),
        "host.exo_cpu_frac": exo_frac(p),
    }
    for k, f in JOB_SUMS.items():
        m[k] = sum(getattr(j, f) for j in jobs)
    m["spark.core_busy_frac"] = m["spark.task_run_s"] / (cpus * p["wall"])
    unattributed = [selfs[s.sid] / s.dur for s in spans
                    if s.parent is None and s.dur > 0]
    m["trace.unattributed_frac"] = max(unattributed, default=0.0)
    return m


def per_layer(runner, timed: list, tracer, events_dir: str, setup: dict,
              detail: dict) -> dict:
    jobs = read_event_log(events_dir)
    attach_jobs(tracer, jobs)
    selfs = self_times(tracer.spans)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    traced = [p for p in timed if p["traced"]]
    untraced = [p for p in timed if not p["traced"]]
    rows = []
    for p in traced:
        prefix = f"{p['pass']}:"
        spans = [s for s in tracer.spans if s.op.startswith(prefix)]
        pjobs = [j for j in jobs if j.group.startswith(prefix)]
        rows.append(_pass_layers(p, spans, selfs, pjobs,
                                 sum(p["rpc"].values()), cpus))
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    m["trace.unattributed_frac"] = max(r["trace.unattributed_frac"]
                                       for r in rows)
    m.update(setup)
    m.update(runner.ctx.quality)
    m.setdefault("dedup.recall", 0.0)
    m.setdefault("similarity.recall_at_k", 0.0)
    m["trace.pass_s"] = statistics.median(p["wall"] for p in traced)
    m["trace.untraced_pass_s"] = statistics.median(p["wall"] for p in untraced)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    m["failed_frac"] = runner.failed / runner.attempted
    detail["py4j_calls"] = _rpc_repeats(timed)
    detail["self_time_s"] = _self_by_layer(tracer.spans, selfs, len(traced))
    return {k: m[k] for k in UNITS}


def _rpc_repeats(timed: list) -> dict:
    """Per-pipeline median py4j calls per compile, and whether the count
    repeated exactly on every timed pass."""
    out = {}
    counts: dict[str, list[int]] = {}
    for p in timed:
        for k, v in p["rpc"].items():
            counts.setdefault(k, []).append(v)
    for k, v in counts.items():
        out[k] = {"median": statistics.median(v), "repeats": len(set(v)) == 1,
                  "counts": v}
    return out


def _self_by_layer(spans: list, selfs: dict, n_passes: int) -> dict:
    """Mean self time per pass by span name (``op`` for the root glue)."""
    out: dict[str, float] = {}
    for s in spans:
        key = "op(glue)" if s.parent is None else s.name
        out[key] = out.get(key, 0.0) + selfs[s.sid] / max(n_passes, 1)
    return dict(sorted(out.items()))
