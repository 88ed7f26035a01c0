"""End-to-end and per-layer metrics of one workload run.

End-to-end metrics come from the operation record of an untraced run;
per-layer metrics from the spans, event log and /proc readings of a
traced one.  Per-operation averages divide by the operations of the
timed phase (a `daily_ingest` batch, an `analytics` query, a
`lake_serve` read or correction).
"""

from __future__ import annotations

import math
import statistics

import stats
from tracing import GROUP_PREFIX, coverage, durations_ms, self_times_ms

# The metrics BENCHMARK.json lists: name -> unit.  Every workload
# reports every one (test_perfbench checks the two stay in step).
CONTRACT_E2E = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "peak_rss_mb": "MB",
}

LAKE_READS = ("read", "read_where", "read_as_of", "read_snapshot",
              "read_changes")
LAKE_WRITES = ("overwrite", "overwrite_partitions", "append", "merge_into",
               "update_where", "delete_where", "compact", "txn.commit",
               "txn.overwrite_partitions", "txn.append", "log_metric")
PIPELINE = {
    "bronze": "ingest_bronze_trips",
    "silver": "process_days",
    "audit": "audit_batch",
    "gold_refresh": "refresh_gold_daily_demand",
    "gold_cluster": "build_gold_clustering",
    "gold_gaps": "build_gold_gaps",
    "consult_cluster": "consult_clustering_by_polygon",
    "consult_gaps": "consult_gaps_topk",
}
GROWTH = ("silver", "audit", "gold_refresh")
# Per-layer metrics only `lake_serve` exercises; BENCHMARK.json lists
# the rest, which its two workloads report.
LAKE_SERVE_ONLY = (
    "lakehouse.write_ms.merge_into", "lakehouse.write_ms.update_where",
    "lakehouse.write_ms.delete_where", "lakehouse.write_ms.compact",
    "lakehouse.dv_files", "pipeline.consult_cluster_ms",
    "pipeline.consult_gaps_ms",
)


def _m(value, unit: str, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}


def measured(ops: list[dict]) -> list[dict]:
    """The operations the latency and cost metrics describe: reads and
    writes (not the end-of-run gold builds) that ran to completion.  An
    op whose output failed its check still did its work and counts here
    (and in `failed`), so every run averages over the same ops."""
    return [o for o in ops
            if o["kind"] in ("read", "write") and not o.get("raised")]


def gated(run: dict) -> list[dict]:
    """The ops `op_cpu_ms` averages over: a fixed number of leading
    reads and writes of the timed phase (the workload's `gated_ops`),
    so that a faster engine changes what each op costs, not which ops
    are averaged."""
    head = [o for o in run["ops"] if o["kind"] in ("read", "write")]
    return measured(head[:run["gated_ops"]])


def gmean(values: list[float]) -> float | None:
    return math.exp(statistics.fmean(map(math.log, values))) if values else None


def end_to_end(run: dict) -> dict:
    """Every end-to-end metric that applies to the run's workload."""
    ops = run["ops"]
    out = {
        "setup_s": _m(run["setup_s"], "s"),
        "run_s": _m(run["run_s"], "s"),
    }
    for kind in ("read", "write"):
        ms = [o["ms"] for o in measured(ops) if o["kind"] == kind]
        if not ms:
            continue
        out[f"{kind}_p50_ms"] = _m(statistics.median(ms), "ms", samples=len(ms))
        t = stats.tail(ms)
        out[f"{kind}_tail_ms"] = (
            _m(t["value"], "ms", percentile=t["percentile"],
               samples=t["samples"])
            if t else _m(None, "ms", percentile=None, samples=len(ms))
        )
    if run["workload"] == "daily_ingest":
        batches = [o for o in measured(ops) if o["kind"] == "write"]
        out["growth_ratio"] = _m(
            stats.growth([o["ms"] for o in batches]), "ratio",
            days=len(batches),
        )
        out["rows_per_s"] = _m(
            sum(o["fact_rows"] for o in batches)
            / (sum(o["ms"] for o in batches) / 1000.0),
            "1/s",
        )
    if run.get("space_amp") is not None:
        out["space_amp"] = _m(run["space_amp"], "ratio")
    out["peak_rss_mb"] = _m(run["peak_rss_mb"], "MB")
    out["failed_frac"] = _m(
        run["failed"] / max(1, run["attempted"]), "ratio"
    )
    # every workload: the measured ops' geometric-mean latency (weighs
    # each query of the analytics mix alike), throughput, and the
    # process tree's CPU time per op over the gated leading ops
    ms = [o["ms"] for o in measured(ops)]
    if ms:
        out["op_gmean_ms"] = _m(gmean(ms), "ms")
        out["ops_per_s"] = _m(len(ms) / (sum(ms) / 1000.0), "1/s")
    head = gated(run)
    if head:
        out["op_cpu_ms"] = _m(statistics.fmean(o["cpu_ms"] for o in head),
                              "ms", samples=len(head))
    return out


def _plain(metric: dict) -> dict:
    """A metric as the result line carries it: its value and unit only
    (percentile and sample counts stay in the report)."""
    return {"value": metric["value"], "unit": metric["unit"]}


def contract_layers(layers: dict) -> dict:
    """The BENCHMARK.json per-layer metrics."""
    return {k: _plain(v) for k, v in layers.items()
            if k not in LAKE_SERVE_ONLY}


def contract(run: dict) -> dict:
    """The BENCHMARK.json end-to-end metrics: the ones that CPU taken by
    other tenants of a shared host (steal) moves least.  Wall-time
    latency and throughput are in `end_to_end` only."""
    return {k: _plain(run["end_to_end"].get(k, _m(None, unit)))
            for k, unit in CONTRACT_E2E.items()}


# -- per layer ------------------------------------------------------------

def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def per_layer(run: dict, spans: list[dict], groups: dict, query_names,
              cores: int) -> dict:
    """Per-layer metrics from a traced run.  `groups` is the event log
    summarised per job group (eventlog.parse).  Mean span durations
    cover every operation, the end-of-run gold builds included; the
    per-operation figures cover the measured reads and writes."""
    ops = measured(run["ops"])
    n_ops = max(1, len(ops))
    measured_ids = {o["span"] for o in ops}
    all_ids = {o["span"] for o in run["ops"] if "span" in o}
    spans = [s for s in spans if s["op"] in all_ids]
    op_spans = [s for s in spans if s["op"] in measured_ids]
    dur = durations_ms(spans)
    own = self_times_ms(spans)
    by_name: dict[str, list[float]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(dur[s["id"]])

    def mean_ms(name: str) -> float:
        return _mean(by_name.get(name, ()))

    out: dict[str, dict] = {}

    # queries
    by_query: dict[str, list[float]] = {}
    for o in ops:
        if "query" in o:
            by_query.setdefault(o["query"], []).append(o["ms"])
    for q in query_names:
        out[f"queries.{q}_ms"] = _m(_mean(by_query.get(q, ())), "ms")
    out["queries.build_ms"] = _m(
        _mean(dur[s["id"]] for s in spans if s.get("stage") == "build"), "ms"
    )
    out["queries.collect_ms"] = _m(mean_ms("queries.collect"), "ms")

    # plans
    plans = [o["plan"] for o in ops if "plan" in o]
    for key in ("analysis_ms", "optimization_ms", "planning_ms"):
        out[f"plans.{key}"] = _m(_mean(p[key] for p in plans), "ms")
    out["plans.python_nodes"] = _m(_mean(p["python_nodes"] for p in plans),
                                   "count")
    out["plans.exchanges"] = _m(_mean(p["exchanges"] for p in plans), "count")

    # spark, from the event log: the job groups of the measured ops' spans
    tot = dict.fromkeys(
        ("jobs", "tasks", "executor_run_ms", "executor_cpu_ns",
         "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
         "output_bytes"), 0,
    )
    for s in op_spans:
        g = groups.get(f"{GROUP_PREFIX}{s['id']}")
        if g:
            for k in tot:
                tot[k] += g[k]
    op_wall_s = sum(o["ms"] for o in ops) / 1000.0
    out["spark.jobs_per_op"] = _m(tot["jobs"] / n_ops, "count")
    out["spark.tasks_per_op"] = _m(tot["tasks"] / n_ops, "count")
    out["spark.executor_run_s"] = _m(tot["executor_run_ms"] / 1e3 / n_ops, "s")
    out["spark.executor_cpu_s"] = _m(tot["executor_cpu_ns"] / 1e9 / n_ops, "s")
    out["spark.slot_utilization"] = _m(
        tot["executor_run_ms"] / 1e3 / max(1e-9, op_wall_s * cores), "ratio"
    )
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
              "output_bytes"):
        out[f"spark.{k}"] = _m(tot[k] / n_ops, "bytes")

    # driver, from /proc
    cpu = {k: _mean(o["cpu"][k] for o in ops if "cpu" in o)
           for k in ("python", "jvm", "pyworker")}
    out["driver.python_cpu_s"] = _m(cpu["python"], "s")
    out["driver.jvm_cpu_s"] = _m(cpu["jvm"], "s")
    out["driver.jvm_nontask_cpu_s"] = _m(
        cpu["jvm"] - tot["executor_cpu_ns"] / 1e9 / n_ops, "s"
    )
    out["driver.pyworker_cpu_s"] = _m(cpu["pyworker"], "s")

    # lakehouse
    read_names = {f"lakehouse.{r}" for r in LAKE_READS}
    reads = [s for s in op_spans if s["name"] in read_names]
    out["lakehouse.read_calls"] = _m(len(reads) / n_ops, "count")
    out["lakehouse.read_ms"] = _m(
        sum(own[s["id"]] for s in reads) / n_ops, "ms"
    )
    for w in LAKE_WRITES:
        out[f"lakehouse.write_ms.{w.replace('.', '_')}"] = _m(
            mean_ms(f"lakehouse.{w}"), "ms"
        )
    out["lakehouse.read_changes_ms"] = _m(
        mean_ms("lakehouse.read_changes"), "ms"
    )
    out["lakehouse.commits_per_batch"] = _m(
        _mean(o["commits"] for o in ops if "commits" in o), "count"
    )
    out["lakehouse.files_per_read"] = _m(
        _mean(o["files_per_read"] for o in ops if "files_per_read" in o),
        "count",
    )
    lake = run.get("lake", {})
    for key in ("log_versions", "live_files", "dv_files"):
        out[f"lakehouse.{key}"] = _m(lake.get(key, 0), "count")
    out["lakehouse.bytes_written"] = _m(
        lake.get("bytes_written", 0) / n_ops, "bytes"
    )
    out["lakehouse.write_amp"] = _m(lake.get("write_amp", 0.0), "ratio")

    # pipeline and ml
    for key, fn in PIPELINE.items():
        out[f"pipeline.{key}_ms"] = _m(mean_ms(f"pipeline.{fn}"), "ms")
    for key in GROWTH:
        series = by_name.get(f"pipeline.{PIPELINE[key]}", [])
        out[f"pipeline.{key}_growth"] = _m(stats.growth(series) or 0.0,
                                           "ratio")
    out["ml.typical_day_ms"] = _m(mean_ms("ml.typical_day_clustering"), "ms")

    # the trace itself
    cov = coverage(spans)
    out["trace.coverage_min"] = _m(min(cov.values()) if cov else 0.0, "ratio")
    out["trace.spans_per_op"] = _m(len(op_spans) / n_ops, "count")
    out["trace.op_gmean_ms"] = _m(gmean([o["ms"] for o in ops]) or 0.0, "ms")
    return out
