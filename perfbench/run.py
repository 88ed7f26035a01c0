#!/usr/bin/env python3
"""Benchmark of the urban-mobility engine: one closed-loop client per
workload, on local[nproc] with nproc shuffle partitions.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

A single workload prints its report on stderr and, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones BENCHMARK.json
lists; with --trace 1 the run records spans around every call into the
engine's layers and reports the per-layer metrics instead.

`--workload all` runs every workload untraced and then traced, each in
its own process, and prints every end-to-end metric of every workload
by name and unit, with the tracing overhead.

Each run writes under a fresh temp root, .perfbench_runs/<run>/ at the
top of the checkout, and leaves there only its result.json and
spans.json.  See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
PACKAGE = "urban_mobility_data_lakehouse_spark"
WORKLOADS = ("analytics", "daily_ingest", "lake_serve")
KEEP = ("result.json", "spans.json")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--result-file", help="also write the full result here")
    return p.parse_args(argv)


def _workload(name: str, args):
    if name == "analytics":
        from analytics import Analytics

        return Analytics()
    if name == "daily_ingest":
        from daily_ingest import DailyIngest

        return DailyIngest()
    from lake_serve import LakeServe

    return LakeServe()


# -- tracing --------------------------------------------------------------

def install_tracer(spark):
    from tracing import Tracer

    from urban_mobility_data_lakehouse_spark.ml import clustering
    from urban_mobility_data_lakehouse_spark.pipeline import mobility
    from urban_mobility_data_lakehouse_spark.sources import lakehouse

    tracer = Tracer(spark.sparkContext)
    tracer.wrap_class(lakehouse.Lakehouse, "lakehouse")
    tracer.wrap_class(lakehouse.Transaction, "lakehouse.txn",
                      rename={"__exit__": "commit"})
    tracer.wrap_function(lakehouse.log_metric, "lakehouse", PACKAGE)
    tracer.wrap_class(mobility.MobilityPipeline, "pipeline")
    tracer.wrap_function(clustering.typical_day_clustering, "ml", PACKAGE)
    return tracer


def plan_summary(df) -> dict:
    """Catalyst phase times and plan-node counts of an executed frame."""
    import re

    from urban_mobility_data_lakehouse_spark.plans.explain import (
        formatted_plan,
    )

    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    nodes = re.findall(r"^\(\d+\) (\w+)", formatted_plan(df), re.MULTILINE)
    out["python_nodes"] = sum(
        bool(re.search(r"Python|Pandas|InArrow", n)) for n in nodes
    )
    out["exchanges"] = sum("Exchange" in n for n in nodes)
    return out


# -- one workload ---------------------------------------------------------

def lake_summary(ctx, workload, bytes_before: int) -> dict:
    """Space and layout of the lake at the end of the timed phase."""
    from harness import dir_bytes, lake_tables, lake_versions, plain_bytes

    lake, spark = workload.lake, ctx.spark
    total = dir_bytes(lake.root)
    plain = plain_bytes(spark, lake, os.path.join(ctx.tmp, "plain"))
    main = ".".join(workload.lake_main)
    main_rows = lake.read(spark, *workload.lake_main).count()
    per_row = plain[main] / max(1, main_rows)
    details = [lake.describe_detail(s, t) for s, t in lake_tables(lake)]
    written = total - bytes_before
    return {
        "bytes": total,
        "plain_bytes": sum(plain.values()),
        "space_amp": total / max(1, sum(plain.values())),
        "bytes_written": written,
        "write_amp": written / max(1.0, workload.logical_rows() * per_row),
        "log_versions": lake_versions(lake),
        "live_files": sum(d["num_files"] for d in details),
        "dv_files": sum(d["num_deletion_vectors"] for d in details),
    }


def run_workload(args) -> dict:
    import harness
    import procstat

    os.makedirs(RUNS, exist_ok=True)
    tmp = tempfile.mkdtemp(
        prefix=f"{args.workload}-s{args.seed}-t{args.trace}-", dir=RUNS
    )
    scratch = os.path.join(tmp, "tmp")
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    workload = _workload(args.workload, args)
    trace = bool(args.trace)
    spark = None
    try:
        ctx = harness.Context(tmp, args.seed, args.seconds)
        t0 = time.perf_counter()
        workload.generate(ctx)
        generate_s = time.perf_counter() - t0
        # the answers the checks compare with: neither set-up time nor
        # part of the memory the run measures
        if hasattr(workload, "expect"):
            workload.expect(ctx)
        with procstat.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = ctx.spark = harness.start_spark(tmp, trace)
            workload.setup(ctx)
            setup_s = generate_s + time.perf_counter() - t0
            env = harness.environment(spark, ROOT, args.seed)
            lake = getattr(workload, "lake", None)
            bytes_before = harness.dir_bytes(lake.root) if lake else 0
            if trace:
                ctx.tracer = install_tracer(spark)
                ctx.after_op_hooks.append(_plan_hook)
                if lake is not None:
                    ctx.after_op_hooks.append(_lake_hook(ctx, workload))
            try:
                run_s, ambient = workload.run(ctx)
            finally:
                if ctx.tracer is not None:
                    ctx.tracer.unwrap()
        lake_info = lake_summary(ctx, workload, bytes_before) if lake else {}
        harness.stop_spark(spark)
        spark = None
        attempted = len(ctx.ops)
        failed = sum(not o["ok"] for o in ctx.ops)
        run = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "setup_s": setup_s,
            "run_s": run_s,
            "peak_rss_mb": rss.peak / 2**20,
            "ambient_cores": ambient,
            "gated_ops": workload.gated_ops,
            "attempted": attempted,
            "failed": failed,
            "problems": ctx.problems,
            "env": {**env, "inputs": ctx.inputs},
            "lake": lake_info,
            "space_amp": lake_info.get("space_amp"),
            "ops": ctx.ops,
        }
        import metrics

        run["end_to_end"] = metrics.end_to_end(run)
        run["contract"] = metrics.contract(run)
        if trace:
            import eventlog

            from urban_mobility_data_lakehouse_spark.queries import (
                bench_queries,
            )

            groups = eventlog.parse(os.path.join(tmp, "eventlog"))
            spans = ctx.tracer.closed_spans()
            run["per_layer"] = metrics.per_layer(
                run, spans, groups, sorted(bench_queries()), harness.nproc()
            )
            with open(os.path.join(tmp, "spans.json"), "w") as f:
                json.dump(spans, f)
        with open(os.path.join(tmp, "result.json"), "w") as f:
            json.dump(run, f, indent=1, default=str)
        return run
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        for entry in os.listdir(tmp):
            if entry not in KEEP:
                shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)


def _plan_hook(rec: dict) -> None:
    df = rec.pop("df", None)
    if df is not None and rec["ok"]:
        rec["plan"] = plan_summary(df)


def _lake_hook(ctx, workload):
    from harness import lake_versions

    lake, spark = workload.lake, ctx.spark
    state = {"versions": lake_versions(lake)}

    def hook(rec: dict) -> None:
        versions = lake_versions(lake)
        rec["commits"] = versions - state["versions"]
        state["versions"] = versions
        rec["files_per_read"] = len(
            lake.read(spark, *workload.lake_main).inputFiles()
        )

    return hook


# -- reporting ------------------------------------------------------------

def _fmt(metric: dict) -> str:
    v = metric["value"]
    text = "n/a" if v is None else f"{v:.6g}"
    extra = [f"{k}={metric[k]}" for k in ("percentile", "samples", "days")
             if k in metric]
    return f"{text} {metric['unit']}" + (f"  ({', '.join(extra)})" if extra else "")


def report(run: dict, out=sys.stderr) -> None:
    print(f"# {run['workload']} seed={run['seed']} trace={run['trace']} "
          f"env={json.dumps(run['env'], sort_keys=True)} "
          f"ambient_cores={run['ambient_cores']:.2f}", file=out)
    for name, m in run["end_to_end"].items():
        print(f"#   {name:24s} {_fmt(m)}", file=out)
    for name, m in run.get("per_layer", {}).items():
        print(f"#   {name:40s} {_fmt(m)}", file=out)
    for p in run["problems"][:20]:
        print(f"#   FAILED {p}", file=out)


def result_line(run: dict) -> dict:
    from metrics import contract_layers

    metrics = (contract_layers(run["per_layer"]) if run["trace"]
               else run["contract"])
    return {
        "correct": run["failed"] == 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": metrics,
    }


E2E_NAMES = (
    "setup_s", "run_s", "read_p50_ms", "read_tail_ms", "write_p50_ms",
    "write_tail_ms", "growth_ratio", "rows_per_s", "space_amp",
    "peak_rss_mb", "failed_frac", "op_gmean_ms", "ops_per_s", "op_cpu_ms",
)


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    runs = {}
    os.makedirs(RUNS, exist_ok=True)
    for name in WORKLOADS:
        for trace in (0, 1):
            path = os.path.join(RUNS, f"all-{name}-s{args.seed}-t{trace}.json")
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace),
                   "--result-file", path]
            proc = subprocess.run(cmd, stdout=subprocess.DEVNULL)
            if proc.returncode != 0:
                print(f"perfbench: {name} trace={trace} exited "
                      f"{proc.returncode}", file=sys.stderr)
                return proc.returncode
            with open(path) as f:
                runs[name, trace] = json.load(f)
            os.unlink(path)
    print("workload       metric                   value")
    line_metrics = {}
    for name in WORKLOADS:
        plain, traced = runs[name, 0], runs[name, 1]
        for metric in E2E_NAMES:
            m = plain["end_to_end"].get(metric)
            shown = _fmt(m) if m else "n/a (does not apply)"
            print(f"{name:14s} {metric:24s} {shown}")
            if m and m["value"] is not None:
                line_metrics[f"{name}.{metric}"] = {
                    "value": m["value"], "unit": m["unit"]}
        base = plain["end_to_end"]["op_gmean_ms"]["value"]
        with_trace = traced["per_layer"]["trace.op_gmean_ms"]["value"]
        overhead = with_trace / base - 1.0 if base else None
        cov = traced["per_layer"]["trace.coverage_min"]["value"]
        print(f"{name:14s} {'trace_overhead':24s} "
              f"{'n/a' if overhead is None else f'{overhead:+.1%}'} "
              f"(op gmean {base:.1f} ms untraced, {with_trace:.1f} ms "
              f"traced; span coverage min {cov:.1%})")
    runs_list = list(runs.values())
    print(json.dumps({
        "correct": all(r["failed"] == 0 for r in runs_list),
        "attempted": sum(r["attempted"] for r in runs_list),
        "failed": sum(r["failed"] for r in runs_list),
        "metrics": line_metrics,
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import urban_mobility_data_lakehouse_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    run = run_workload(args)
    report(run)
    if args.result_file:
        with open(args.result_file, "w") as f:
            json.dump(run, f, default=str)
    print(json.dumps(result_line(run)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
