#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from
``--seed``, starts one SparkSession on ``local[<nproc>]``, sets up and
warms up, runs the closed loop for as many blocks of work as fit
``--seconds`` on a 4-core host, checks the outputs and prints one JSON
object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (and a layer
table).  A detail line with provenance and sample counts comes just
before it.  All state lives under ``.perfbench_work/`` and is removed at
exit; span dumps and results go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark"
SETUP_REPEATS = 3
DRIVER_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(values: list[float], q: float) -> float:
    """The Harrell-Davis estimate of the ``q`` quantile: a Beta-weighted
    mean of all order statistics.  Unlike a single order statistic it
    does not jump when the op kinds near the quantile trade places, so
    it varies less from run to run."""
    xs = sorted(values)
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, never below the median: with fewer than 21
    samples it is the median."""
    n = len(values)
    i = n - 11
    q = 0.5 if i < (n - 1) / 2 else (i + 1) / n
    return quantile(values, q), 100.0 * q


def e2e_metrics(w, wall: float, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics of a finished run, plus their sample counts."""
    reads, writes = w.samples("read"), w.samples("write")
    read_tail, read_pct = percentile_tail(reads)
    write_tail, write_pct = percentile_tail(writes)
    rows = sum(op["rows"] for op in w.ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "read_p50_s": (quantile(reads, 0.5), "s"),
        "read_tail_s": (read_tail, "s"),
        "write_p50_s": (quantile(writes, 0.5), "s"),
        "write_tail_s": (write_tail, "s"),
        "ops_per_s": (len(w.ops) / wall, "1/s"),
        "rows_written_per_s": (rows / wall, "1/s"),
        "stored_bytes_per_input_byte": (w.stored_bytes() / w.input_bytes(), "ratio"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
    }
    samples = {
        "reads": len(reads), "read_tail_pct": round(read_pct, 1),
        "writes": len(writes), "write_tail_pct": round(write_pct, 1),
        "measured_s": wall,
    }
    return metrics, samples


def op_latencies(ops: list[dict]) -> dict[str, list[float]]:
    """Latencies per op kind (per entry or source table where there is one)."""
    out: dict[str, list[float]] = {}
    for op in ops:
        key = op.get("entry") or op["kind"]
        if "spec" in op and "target" in op["spec"]:
            key += ":" + op["spec"]["target"] + ("+resubmit" if op["spec"].get("resubmit") else "")
        out.setdefault(key, []).append(op["lat"])
    return out


def jvm_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    # spark-submit execs the JVM; its peak RSS is VmHWM in /proc
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def provenance(spark, seed: int, load_start) -> dict:
    commit = "unknown"  # a checkout without .git (git would search its parents)
    if (ROOT / ".git").exists():
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        ).stdout.strip() or commit
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "git_commit": commit,
    }


def instrument(tracer) -> None:
    """Wrap the public functions each layer metric is read from."""
    from importlib import import_module

    m = lambda name: import_module(f"{PKG}.{name}")  # noqa: E731
    tracer.wrap_method(m("plans.model").ExtractionPlan, "from_file", "plans.model.parse")
    tracer.wrap_function(m("plans.dialect"), "to_spark_sql", "plans.dialect.rewrite")
    tracer.wrap_method(m("orchestrator").Orchestrator, "dispatch", "orchestrator.dispatch")
    ledger = m("sinks.ledger").Ledger
    tracer.wrap_method(ledger, "claim_run", "sinks.ledger.claim")
    tracer.wrap_method(ledger, "update_item", "sinks.ledger.update")
    engine = m("engine").Engine
    tracer.wrap_method(engine, "run_job", "engine.run_job")
    tracer.wrap_method(engine, "build_query_df", "engine.build_query_df")
    tracer.wrap_function(m("operators.cleaning"), "clean_pipeline", "operators.cleaning.clean_pipeline")
    registry = m("sources.registry")
    tracer.wrap_method(registry.SourceRegistry, "register_views_for_query", "sources.registry.register_views")
    tracer.wrap_function(registry, "read_parquet", "sources.registry.read_parquet")
    tracer.wrap_function(registry, "load_table", "sources.registry.load_table")
    sink = m("sinks.parquet_sink")
    tracer.wrap_function(sink, "write_partitioned_parquet", "sinks.parquet_sink.write")
    tracer.wrap_function(sink, "register_external_table", "sinks.parquet_sink.register_catalog")
    for meth in ("append", "merge_upsert", "delete_where", "compact", "snapshot"):
        tracer.wrap_method(m("lakehouse").TransactionLog, meth, f"lakehouse.{meth}")


#: per-layer metric -> (span name, "self" or "total"): median seconds per call
SPAN_METRICS = {
    "plans.model.parse_s": ("plans.model.parse", "self"),
    "plans.dialect.rewrite_s": ("plans.dialect.rewrite", "self"),
    "orchestrator.dispatch_self_s": ("orchestrator.dispatch", "self"),
    "sinks.ledger.claim_s": ("sinks.ledger.claim", "self"),
    "sinks.ledger.update_s": ("sinks.ledger.update", "self"),
    "engine.run_job_self_s": ("engine.run_job", "self"),
    "engine.build_query_df_s": ("engine.build_query_df", "self"),
    "operators.cleaning.clean_pipeline_s": ("operators.cleaning.clean_pipeline", "self"),
    "sources.registry.register_views_s": ("sources.registry.register_views", "self"),
    "sinks.parquet_sink.write_s": ("sinks.parquet_sink.write", "self"),
    "sinks.parquet_sink.register_catalog_s": ("sinks.parquet_sink.register_catalog", "self"),
    "sources.registry.read_parquet_s": ("sources.registry.read_parquet", "self"),
    "lakehouse.append_s": ("lakehouse.append", "self"),
    "lakehouse.merge_upsert_s": ("lakehouse.merge_upsert", "self"),
    "lakehouse.delete_where_s": ("lakehouse.delete_where", "self"),
    "lakehouse.compact_s": ("lakehouse.compact", "self"),
    "lakehouse.snapshot_s": ("lakehouse.snapshot", "self"),
    "streaming.batch_s": ("streaming.batch", "total"),
    "streaming.batch_overhead_s": ("streaming.batch", "self"),
}
COUNT_METRICS = [
    "orchestrator.dedup_skip_ratio", "sinks.ledger.events",
    "sinks.parquet_sink.files_written", "sinks.parquet_sink.partition_dirs_written",
    "sinks.parquet_sink.rows_per_file", "lakehouse.files_live", "lakehouse.files_added",
    "lakehouse.files_removed", "lakehouse.bytes_rewritten_per_byte_changed",
    "lakehouse.skip_ratio", "lakehouse.log_versions", "lakehouse.checkpoints",
]
SPARK_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.busy_ratio": "ratio",
}


def metric_unit(name: str) -> str:
    if name in SPARK_METRICS:
        return SPARK_METRICS[name]
    if name.endswith("_s"):
        return "s"
    return "ratio" if "ratio" in name or name.endswith("_per_byte_changed") else "count"


def layer_metrics(w, tracer, stages: dict, group_stages, cores: int,
                  headline: list[str]) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run, plus the printable layer table.

    ``stages`` maps stage id to its metrics and ``group_stages(groups)``
    returns the (job count, stage ids) run under Spark job groups.
    """
    selfs = tracer.self_times()
    by_name: dict[str, list[tuple[float, float]]] = {}
    roots: dict[int, float] = {}
    for sid, (name, start, end, parent, op) in enumerate(tracer.spans):
        if parent is None:
            roots[op] = selfs[sid]
        else:
            by_name.setdefault(name, []).append((selfs[sid], end - start))
    out: dict[str, float] = {}
    for metric, (span, which) in SPAN_METRICS.items():
        vals = [s if which == "self" else t for s, t in by_name.get(span, [])]
        out[metric] = statistics.median(vals) if vals else 0.0
    out["sources.registry.read_parquet_calls"] = len(by_name.get("sources.registry.read_parquet", [])) / len(w.ops)
    out["trace.unattributed_s"] = statistics.median(roots.values()) if roots else 0.0
    counts = w.layer_counts()
    for name in COUNT_METRICS:
        out[name] = float(counts.get(name, 0.0))
    # Spark work per op, from the status store (read outside the timer)
    tot = {k: 0 for k in ("jobs", "stages", "tasks", "task_ms", "gc_ms", "shuffle_read_bytes",
                          "shuffle_write_bytes", "spill_bytes")}
    build_jobs = 0
    for op in w.ops:
        jobs, sids = group_stages(op["groups"])
        tot["jobs"] += jobs
        tot["stages"] += len(sids)
        for sid in sids:
            for k, v in stages.get(sid, {}).items():
                if k in tot:
                    tot[k] += v
        if op["kind"] == "entry":
            build_jobs += group_stages(op["groups"][1:])[0]
    n = len(w.ops)
    wall = sum(op["lat"] for op in w.ops)
    out.update({
        "spark.jobs": tot["jobs"] / n, "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n, "spark.task_s": tot["task_ms"] / 1000 / n,
        "spark.gc_s": tot["gc_ms"] / 1000 / n,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.busy_ratio": tot["task_ms"] / 1000 / (wall * cores),
        "catalog.build_jobs": build_jobs / n if w.name == "catalog_queries" else 0.0,
    })
    for name in headline:
        ops = [op for op in w.ops if op.get("entry") == name]
        out[f"catalog.{name}.build_s"] = statistics.median(op["build"] for op in ops) if ops else 0.0
        out[f"catalog.{name}.exec_s"] = statistics.median(op["exec"] for op in ops) if ops else 0.0
    # the table: self time per layer, summed over the run, against op wall
    table = [f"layer table: {w.name}, {n} ops, {wall:.3f} s op wall, "
             f"spark task time {tot['task_ms'] / 1000:.3f} s on {cores} cores"]
    table.append(f"{'span':44s} {'calls':>6s} {'self_s':>9s} {'per_op_s':>9s} {'share':>6s}")
    rows = sorted(((sum(s for s, _ in v), k, len(v)) for k, v in by_name.items()), reverse=True)
    for total, name, calls in rows:
        table.append(f"{name:44s} {calls:6d} {total:9.3f} {total / n:9.4f} {total / wall:6.1%}")
    resid = sum(roots.values())
    table.append(f"{'(unattributed residual)':44s} {n:6d} {resid:9.3f} {resid / n:9.4f} {resid / wall:6.1%}")
    return out, table


def tracing_overhead(tracer, w, metrics: dict, untraced: Path) -> list[str]:
    """The tracer's own cost per span times the spans recorded, and the
    gap to the untraced run of the same workload and seed, if there is
    one (a single pair of runs: the run-to-run spread applies)."""
    from .trace import Tracer

    probe, n = Tracer(PKG), 2000
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("probe"):
            pass
    cost = (time.perf_counter() - t0) / n * len(tracer.spans)
    wall = sum(op["lat"] for op in w.ops)
    lines = [f"tracing overhead: {len(tracer.spans)} spans cost {cost * 1000:.2f} ms, "
             f"{cost / wall:.3%} of op wall"]
    if not untraced.exists():
        return lines + ["tracing overhead vs untraced: run --trace 0 with the same seed first"]
    base = json.loads(untraced.read_text())
    for k in ("read_p50_s", "write_p50_s", "ops_per_s"):
        lines.append(f"tracing overhead vs untraced {k}: {metrics[k][0]:.4f} vs "
                     f"{base[k]:.4f} ({metrics[k][0] / base[k] - 1:+.1%})")
    return lines


def run(args) -> int:
    from .gen import fresh_dir, gen_tables
    from .workloads import HEADLINE, WORKLOADS

    load_start = list(os.getloadavg())
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    outdir = ROOT / ".perfbench_out"
    tmp = fresh_dir(work / "tmp")
    cores = nproc()
    # every file a run writes stays in the checkout: temp files, Spark's
    # local dirs, and no JVM perf-data files in the system temp dir
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(fresh_dir(work / "local")),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    import tempfile

    tempfile.tempdir = str(tmp)
    spark = None
    try:
        w = WORKLOADS[args.workload](None, work / "data", work / "inputs",
                                      work / "state", args.seed, None)
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            fresh_dir(work / "inputs")
            gen_tables(fresh_dir(work / "data"), args.seed)
            w.generate()
            gen_s.append(time.perf_counter() - t0)
        with ThreadPoolExecutor(1) as pool:
            # the DuckDB oracle is not part of the program's set-up: it
            # runs while the JVM launches, and waiting for it is untimed
            oracle = pool.submit(w.oracle) if hasattr(w, "oracle") else None
            t0 = time.perf_counter()
            from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
                get_spark,
            )

            spark = get_spark(
                app_name="perfbench", master=f"local[{cores}]",
                warehouse_dir=str(work / "warehouse"),
                extra_conf={
                    # a heap committed up front keeps the peak RSS from
                    # depending on when the JVM chose to grow it
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                                     f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100",
                },
            )
            session_s = time.perf_counter() - t0
            if oracle is not None:
                oracle.result()
        w.bind(spark)
        t0 = time.perf_counter()
        w.warmup()
        warm_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from .trace import Tracer

            tracer = Tracer(PKG)
        w.bind(spark, tracer)
        t0 = time.perf_counter()
        w.begin(warm=False)
        begin_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + warm_s + begin_s
        if tracer is not None:
            instrument(tracer)
        wall = w.run(args.seconds)
        if tracer is not None:
            tracer.restore()
        w.check()
        rss = jvm_rss_mb(spark)
        metrics, samples = e2e_metrics(w, wall, setup_s, rss)
        detail = {
            "workload": args.workload, "trace": args.trace, "samples": samples,
            "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warm_s,
                      "begin_s": begin_s},
            "op_latencies": dict(sorted(op_latencies(w.ops).items())),
            "problems": w.problems,
            "provenance": provenance(spark, args.seed, load_start),
        }
        outdir.mkdir(exist_ok=True)
        stem = outdir / f"{args.workload}-seed{args.seed}"
        if tracer is not None:
            from .trace import group_stages, stage_metrics

            layer, table = layer_metrics(w, tracer, stage_metrics(spark),
                                         lambda groups: group_stages(spark, groups),
                                         cores, HEADLINE)
            tracer.dump(Path(f"{stem}-spans.json"))
            table += tracing_overhead(tracer, w, metrics, Path(f"{stem}-e2e.json"))
            for line in table:
                print(f"# {line}")
            detail["traced_e2e"] = {k: v for k, (v, _) in metrics.items()}
            printed = {k: (v, metric_unit(k)) for k, v in layer.items()}
        else:
            Path(f"{stem}-e2e.json").write_text(json.dumps({k: v for k, (v, _) in metrics.items()}))
            printed = metrics
        failed = sum(1 for op in w.ops if not op["ok"])
        result = {
            "correct": not w.problems and failed == 0,
            "attempted": len(w.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in printed.items()},
        }
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    from .workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: {ROOT} holds no {PKG} package to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    return run(args)


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from perfbench.run import main as _main

    sys.exit(_main())
