#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is forced end-to-end through the `noop` sink (full
materialization, no Catalyst shortcut via count()). Timing protocol
(r8 verdict #2): one untimed warm-up run per query (Catalyst planning
+ whole-stage codegen compile + JIT), then the min of 5 timed runs.
A sample is DISCARDED and retried (bounded retry budget) when the
exogenous-CPU gate trips: machine-wide busy jiffies minus this process
tree's own exceed BENCH_EXO_LIMIT (default 20%) of machine capacity
over the sample window (r13 verdict #2: the direct instrument; loadavg
is a trailing average that missed sub-minute co-tenant bursts two
rounds running AND — the r15 finding — false-trips on the bench's own
decaying load). A gated-out sample is never published (r14 verdict
#1); a query whose every sample gates out publishes its least-dirty
time with an explicit `contaminated` marker. The optional
loadavg-excess gate (BENCH_LOAD_LIMIT, default 0 = off) compares
max(loadavg) minus this tree's own measured cores.
At real scale a query runs for minutes and compile cost amortizes to
zero, so steady state is the number that predicts 100 TB throughput;
single-shot local timings mostly measure the JIT, and the gated min
over repeats rejects co-tenant contention instead of publishing it.
Per-query CPU seconds + exogenous fraction land in BENCH_FULL.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "q_window_running",
    "q_sessionize",
    "q_tumbling_window",
    "convert_isostr",
    "convert_jsonl_region",
    "convert_csv_lineitem",
    "q_text_quality",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_knn_bruteforce",
    "q_knn_ivf",
    "q_salted_distinct",
    "q_multimodal_features",
    "q10_returned_items",
    "q_tfidf",
    "q_funnel",
    "q_window_time_range",
    "q7_nation_trade",
    "q16_supplier_count",
    "q_session_window",
    "q_embed_quantize",
    "q_kql_join_revenue",
    "q8_market_share",
    "q13_order_count_distribution",
    "q17_small_quantity_revenue",
    "q_cohort_retention",
    "q_zorder_key",
    "q_training_mix",
    "q_decontaminate",
    "q_weighted_sample",
    # round-6 additions (r5 verdict demand #3): the headline-worthy r5
    # operators were previously untracked — regressions now surface.
    # Re-recorded same-set totals live in COVERAGE.md (perf notes).
    "q_kql_scan_funnel",
    "q_kql_series_anomalies",
    "q_kql_autocluster",
    "q_knn_ivfpq",
    "q_dedup_incremental",
    "q_url_dedup",
    # round-7 additions (r6 verdict demand #7): track the r6 operators;
    # same-set clean-box baseline re-recorded in COVERAGE.md perf notes.
    "q_bm25",
    "q_kql_sequence_detect",
    "q_kql_reduce",
    "q_knn_hamming",
    "q_media_real_headers",
    # the headline-worthy operators BORN in round 7, tracked from day
    # one (pre-empting the per-round "track the new ops" demand);
    # same-set clean-box record in COVERAGE.md perf notes.
    "q_dedup_minhash_exact",
    "q_kql_graph_match",
    "q_kql_scan_declare",
    "q_kql_funnel_completion",
    "q_dup_spans",
    "q_kql_row_window_session",
    # round-8 additions (r7 verdict #7): the rolling-activity MAU-curve
    # workhorses — their explode-to-bins fan-out (lookback/bin per row)
    # is the cost to watch at scale; clean-box record in COVERAGE.md.
    "q_kql_sliding_window",
    "q_kql_activity_counts",
    # round-9 additions, tracked from day one: the persisted
    # partitioned-index ANN probe (build amortizes across the repeats —
    # exactly the production shape it models).
    "q_knn_ivfpq_indexed",
    # the headline-worthy operators BORN in round 9: the weighted
    # percentile's per-group pair buffering, the funnel-sequence
    # lead-chain window, the TPC-H multi-self-join q21, and the
    # md5-sharded training shuffle — each a distinct cost shape.
    "q_kql_percentilew",
    "q_kql_funnel_sequence",
    "q21_waiting_suppliers",
    "q_training_shard",
    # the headline-worthy operators born in round 10, tracked from day
    # one: the two-arm MERGE over the orders fact, the SCD2 classify
    # join, the stratified packing cumsum, the NTILE decile binning,
    # the sketch-mode percentiles (GK + grid-bucketed weighted — the
    # scale path next to the exact folds tracked above), and the
    # frozen-codebook index append (write-heavy lifecycle op).
    # convert_decimal is deliberately NOT tracked: its cost is the
    # fixture write, and the conversion family is already covered.
    "q_merge_upsert",
    "q_scd2_dimension",
    "q_pack_sequences",
    "q_feature_binning",
    "q_kql_percentile_approx",
    "q_kql_percentilew_approx",
    "q_knn_ivfpq_append",
    # late-r10: the Arrow-hop codec roundtrip (pandas-UDF cost shape
    # over the documents corpus), the two-level grid-sketch build +
    # merge, and the libm/Lentz special-function scalars.
    "q_kql_codec_roundtrip",
    "q_kql_tdigest",
    "q_kql_math_special",
    # end-of-r10: the zero-shuffle per-row repetition signals (sorted-
    # array mode mass — the map-side quality-filter cost shape) and the
    # end-to-end clusters certificate (LSH bucket join + iterative
    # label propagation over the planted corpus).
    "q_repetition_signals",
    "q_dedup_clusters_exact",
    # post-r10-freeze: the zero-shuffle overlapping chunker (explode
    # cost shape — output rows ~ corpus_tokens / stride), the span-cut
    # transform (span-window shuffle + per-doc surgery), and the
    # geohash-bucketed spatial grouping (cell-key aggregation).
    "q_chunk_documents",
    "q_cut_dup_spans",
    "q_geo_bucket_join",
    # round-11 additions, tracked from day one: the compile-time-folded
    # unit conversions (pure codegen multiply), the array rotate/shift
    # slice math, and the hybrid-retrieval RRF fusion (two window
    # top-k arms + AQE-decided full-outer fusion join).
    "q_kql_convert_units",
    "q_kql_array_ops",
    "q_rrf_fusion",
    # late-r11: the Arrow-hop command-line parse + codegen string fold
    # (quality-pipeline text tooling), the pure-integer ipv4 compare
    # (log-curation predicate shape), and the per-row GeoJSON measure
    # folds (zero-shuffle geometry math over a fact scan).
    "q_kql_replace_tools",
    "q_kql_ipv4_compare",
    "q_kql_geo_measures",
    # round-12 additions, tracked from day one: the semi-join tabular
    # membership over the orders fact (IN-subquery -> LeftSemi — the
    # scale-safe form of Kusto's 1M-capped in()) and the nested
    # struct/map/binary CSV render (per-row to_json assembly cost).
    "q_kql_in_tabular",
    "convert_csv_nested",
    # round-13 addition: the scan-automaton certificate (per-user
    # Arrow-batched kernel over a planted 4k-row trajectory — tracks
    # the serialized scan path's constant overhead)
    "q_kql_scan_funnel_exact",
    "q_kql_dt_arith",
    "q_kql_ipv4_cidr",
    # round-14 additions, tracked from day one: the timespan text
    # render (pure per-row concat codegen over datetime arithmetic)
    # and the undirected graph match (two-orientation union + node
    # property joins).
    "q_kql_timespan_text",
    "q_kql_graph_undirected",
]


def _proc_stat_busy() -> int:
    """Machine-wide busy CPU jiffies (all cores, all tenants):
    /proc/stat 'cpu' total minus idle+iowait."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals) - idle


def _tree_cpu() -> int:
    """CPU jiffies (utime+stime) consumed by THIS process and every
    live descendant (the Spark JVM is a long-lived child, so
    os.times()/getrusage children counters — which only update on
    wait() — never see it; /proc/<pid>/stat does)."""
    me = os.getpid()
    procs: dict[int, tuple[int, int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced with process exit
        rp = s.rfind(")")  # comm field may contain spaces/parens
        fields = s[rp + 2:].split()
        procs[int(p)] = (int(fields[1]),
                         int(fields[11]) + int(fields[12]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [me]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(kids.get(pid, []))
    return total


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from azure_kusto_parquet_conv_spark.session import get_spark
    from azure_kusto_parquet_conv_spark.queries import QUERIES

    spark = get_spark("aks-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM + parquet footer caches outside the timed region
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def run(name: str) -> None:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        """Janino compilations so far in this JVM: one per generated
        class that missed Spark's codegen cache."""
        return codegen.METRIC_COMPILATION_TIME().getCount()

    # r13 verdict #2: the 1-min loadavg gate missed co-tenant
    # contamination two rounds running (it is a trailing average; a
    # burst shorter than the window passes both sides). The primary
    # gate is now DIRECT: per sample, measure machine-wide busy CPU
    # (/proc/stat) minus this process tree's own CPU (/proc/<pid>/stat
    # over live descendants — the Spark JVM included) and discard the
    # sample when exogenous CPU exceeds BENCH_EXO_LIMIT (default 20%)
    # of the machine's capacity over the sample window. The loadavg
    # check stays as a secondary gate with the limit dropped 8 -> 4.
    # r15 measurement fix (evidence: the 32-core sf0.1 run stamped
    # 1787037621 logged 282 load retries): the 1-min loadavg gate trips
    # on the BENCH'S OWN load — a 32-core stage pushes loadavg well
    # past 4 and the average
    # decays over minutes, so mid-run a block of 15 consecutive queries
    # had EVERY sample discarded by loadavg alone while the direct
    # exogenous-CPU instrument read ~0.00 (other tenants idle). The
    # loadavg gate measured the bench itself, manufacturing false
    # `contaminated` markers and burning the retry budget (it also
    # inflated r14's 143-retry count). The exo-CPU gate measures
    # exactly what loadavg tried to proxy — machine-wide busy CPU
    # minus this process tree — so loadavg is demoted to a recorded
    # diagnostic: BENCH_LOAD_LIMIT defaults to 0 (off); when set > 0
    # it gates on the EXCESS load beyond our own measured cores during
    # the sample (max(load) - ours_cores), not raw loadavg.
    load_limit = float(os.environ.get("BENCH_LOAD_LIMIT", "0"))
    exo_limit = float(os.environ.get("BENCH_EXO_LIMIT", "0.20"))
    n_samples = int(os.environ.get("BENCH_SAMPLES", "5"))
    # r14 verdict #1: a gated-out sample must NEVER be published. The
    # old loop kept the final attempt even when its gate tripped, so a
    # noisy box banked inflated minima (r14's 143-retry run). Now every
    # contaminated sample is discarded; the retry budget is raised
    # (min-of-fewer clean samples beats min-of-5 with dirty ones), and
    # a query that gets ZERO clean samples publishes the best dirty
    # time with an explicit `contaminated` marker instead of silently
    # pretending the number is clean.
    max_extra = int(os.environ.get("BENCH_MAX_EXTRA", "10"))
    hz = os.sysconf("SC_CLK_TCK")
    # ncpu = MACHINE capacity (the exo_frac denominator: other
    # tenants burn machine cores, not Spark-master cores);
    # bench_cpus = the contract's core count, used for labeling
    ncpu = os.cpu_count() or 1
    bench_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", ncpu))

    timings: dict[str, float] = {}
    cpu_secs: dict[str, float] = {}
    exo_fracs: dict[str, float] = {}
    kept_counts: dict[str, int] = {}
    retry_counts: dict[str, int] = {}
    compile_counts: dict[str, dict[str, int]] = {}
    contaminated: list[str] = []
    retried = 0
    for name in HEADLINE:
        c0 = compiles()
        run(name)  # warm-up: plan + codegen + JIT, untimed
        c1 = compiles()
        best = float("inf")
        best_cpu = best_exo = 0.0
        dirty_best = float("inf")
        dirty_cpu = dirty_exo = 0.0
        kept = attempts = 0
        while kept < n_samples and attempts < n_samples + max_extra:
            load_before = os.getloadavg()[0]
            busy0, ours0 = _proc_stat_busy(), _tree_cpu()
            t0 = time.perf_counter()
            run(name)
            dt = time.perf_counter() - t0
            ours1, busy1 = _tree_cpu(), _proc_stat_busy()
            cpu = (ours1 - ours0) / hz
            exo = max(0, (busy1 - busy0) - (ours1 - ours0)) / hz
            # fraction of the machine's CPU capacity other tenants
            # burned while this sample ran
            exo_frac = exo / (ncpu * dt) if dt > 0 else 0.0
            ours_cores = ((ours1 - ours0) / hz / dt) if dt > 0 else 0.0
            load_excess = (max(load_before, os.getloadavg()[0])
                           - ours_cores)
            loaded = (exo_frac > exo_limit
                      or (load_limit > 0 and load_excess > load_limit))
            attempts += 1
            if loaded:
                retried += 1  # contaminated sample: discard, retry
                if dt < dirty_best:
                    dirty_best, dirty_cpu, dirty_exo = dt, cpu, exo_frac
                continue
            kept += 1
            if dt < best:
                best, best_cpu, best_exo = dt, cpu, exo_frac
        if kept == 0:
            # every sample gated out: publish the least-dirty time,
            # loudly marked, rather than nothing (or a silent lie)
            contaminated.append(name)
            best, best_cpu, best_exo = dirty_best, dirty_cpu, dirty_exo
        timings[name] = round(best, 3)
        cpu_secs[name] = round(best_cpu, 3)
        exo_fracs[name] = round(best_exo, 3)
        kept_counts[name] = kept
        retry_counts[name] = attempts - kept
        compile_counts[name] = {"warmup": c1 - c0,
                                "timed": compiles() - c1}

    total = round(sum(timings.values()), 3)
    baseline33 = HEADLINE[:33]  # the r1-recorded subset (BASELINE 19.54s)
    baseline33_total = round(sum(timings[n] for n in baseline33), 3)

    # Full per-query detail: stderr + BENCH_FULL.json (the r10 lesson —
    # the driver keeps only the LAST 2000 chars of stdout and json-parses
    # the final line; a 70-query dict blew that buffer and r10's number
    # went unparsed). The stdout line below is guaranteed short.
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # per-query CPU seconds of the process tree (Spark JVM
        # included) and the exogenous-CPU fraction for the kept best
        # sample — the r13 verdict #2 evidence table: a wall-time
        # regression with unchanged cpu_sec and nonzero exo_frac is
        # co-tenant contention, not a code regression.
        "cpu_sec": cpu_secs,
        "exo_frac": exo_fracs,
        "kept_samples": kept_counts,
        "retries": retry_counts,
        # Janino compilations of the warm-up run and of all timed runs
        # (retries included): the warm-up sums give the headline's
        # class census; a nonzero timed count means a class was
        # evicted from the codegen cache and recompiled.
        "codegen_compiles": compile_counts,
        "codegen_warmup_total": sum(c["warmup"]
                                    for c in compile_counts.values()),
        "contaminated": contaminated,
        "cpus": bench_cpus,
        "machine_cpus": ncpu,
        "sf": sf,
        "load_retries": retried,
        "protocol": ("steady-state: per-query warm-up, min of "
                     f"{n_samples} samples gated on exogenous CPU "
                     f"(limit {exo_limit}); loadavg-excess gate "
                     f"{'off' if load_limit <= 0 else load_limit}; "
                     "gated-out samples never kept"),
    }
    print(json.dumps(full), file=sys.stderr)
    # r14 verdict #2: the full detail goes to a run-stamped path so a
    # later run (e.g. the driver's low-core companion) cannot clobber
    # the committed record of an earlier one. BENCH_FULL.json (stable
    # name) is still written for the at-HEAD banked copy.
    repo = os.path.dirname(os.path.abspath(__file__))
    stamp = f"c{bench_cpus}_{int(time.time())}"
    full_path = os.path.join("bench_runs", f"BENCH_FULL_{stamp}.json")
    try:
        os.makedirs(os.path.join(repo, "bench_runs"), exist_ok=True)
        with open(os.path.join(repo, full_path), "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        full_path = "BENCH_FULL.json"
    try:
        with open(os.path.join(repo, "BENCH_FULL.json"), "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass

    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "baseline33_sec": baseline33_total,
        "baseline33_vs_r1_19.54": round(baseline33_total / 19.54, 3),
        "queries": {n: timings[n] for n in baseline33},
        # r14 verdict #1: contamination evidence rides the contract
        # line itself. exo = kept-best-sample exogenous CPU fraction
        # (nonzero entries only; a clean run prints {}), retries =
        # per-query discarded samples (nonzero only), contaminated =
        # queries whose EVERY sample gated out (timing is the least-
        # dirty one, not a clean number).
        "exo": {n: round(exo_fracs[n], 2) for n in baseline33
                if exo_fracs[n] >= 0.005},
        "retries": {n: retry_counts[n] for n in baseline33
                    if retry_counts[n]},
        "contaminated": contaminated,
        "sf": sf,
        "load_retries": retried,
        "protocol": (f"warmup+min{n_samples},exogate{exo_limit},"
                     f"loadgate{'off' if load_limit <= 0 else load_limit},"
                     "nokeepdirty"),
        "full_detail": full_path,
    }
    print(fit_line(compact))


def fit_line(compact: dict, limit: int = 1900) -> str:
    """The contract line as JSON, trimmed to at most ``limit`` chars.

    Belt-and-braces: never exceed the driver's 2000-char tail buffer.
    The diagnostics shrink before the queries dict: first the exo and
    retries dicts entry by entry, then the contaminated list collapses
    to its count, and only then are the fastest queries omitted."""
    line = json.dumps(compact)
    while len(line) > limit and (compact["exo"] or compact["retries"]):
        for key in ("retries", "exo"):
            if compact[key]:
                compact[key].pop(next(iter(compact[key])))
                break
        line = json.dumps(compact)
    if len(line) > limit:
        compact["contaminated"] = len(compact["contaminated"])
        line = json.dumps(compact)
    while len(line) > limit and compact["queries"]:
        drop = min(compact["queries"], key=compact["queries"].get)
        del compact["queries"][drop]
        compact["queries_omitted"] = (
            compact.get("queries_omitted", 0) + 1)
        line = json.dumps(compact)
    return line


if __name__ == "__main__":
    main()
