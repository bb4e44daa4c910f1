"""Lake benchmark: one closed-loop client drives one workload of the lake
engine for ``--seconds`` and prints its metrics.

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 15 --trace 0

Run from the repository root (or any checkout of it). The last line of
stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Set-up (session start, seeded input staging, two
warm-up passes, the first of which is also the correctness gate) runs
before the timed passes. Exit code 0 only when every op passed its check; 2 when the
engine package is not next to this directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_lake_construction_and_querying_with_pyspark_spark"
REQUIRED = (f"{PACKAGE}/__init__.py", "scripts/scale_probe.py", "scripts/check_oracles.py")

# No new pass starts once this much of the process's life is used, so a
# run exits well inside its 180 s limit.
DEADLINE_S = 140.0
# Timed passes a run makes at least; traced runs alternate traced and
# untraced passes, so they need two of each.
MIN_PASSES = 3
MIN_PASSES_TRACED = 4
# Only the heap's ceiling is fixed (-Xmx); the heap grows as the engine
# uses it, so peak_rss_mb moves with cached, broadcast and shuffle memory.
HEAP_CAP_MB = 2048

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

def op_metric(op: str) -> str:
    return f"operators.{op}_s"


PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.build_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_busy_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "readers.input_bytes": "bytes",
    "readers.input_rows": "rows",
    "readers.rows_per_result": "ratio",
    "readers.load_table_s": "s",
    "readers.read_lake_s": "s",
    "validation.validate_s": "s",
    "sinks.write_lake_s": "s",
    "sinks.output_bytes_per_input_byte": "ratio",
    "catalog.register_table_s": "s",
    "pipeline.ingest_rows_per_s": "rows/s",
    "acid.append_s": "s",
    "acid.merge_upsert_s": "s",
    "acid.delete_where_s": "s",
    "acid.compact_s": "s",
    "acid.snapshot_s": "s",
    "acid.files_rewritten": "count",
    "acid.skipped_files": "count",
    "acid.bytes_written_per_user_byte": "ratio",
    "acid.commit_p50_s": "s",
    "trace.overhead_s": "s",
}
# Per-query wall times of the benchmark's registry workloads. The corpus
# workload is not in BENCHMARK.json; its operator metrics print as extras.
LAKE_SQL_OP_METRICS = {op_metric(op): "s" for op in (
    "flagship_between", "pricing_summary", "join_broadcast_chain", "join_fact_fact_revenue",
    "local_supplier_volume_q5", "market_share_q8", "window_topk_per_customer",
    "cte_top_revenue_nations", "late_shipper_q21", "forecast_revenue_q6",
    "large_volume_customers_q18", "events_user_sessions", "funnel_conversion",
)}
PER_LAYER.update(LAKE_SQL_OP_METRICS)


def layer_units(workload) -> dict[str, str]:
    """PER_LAYER plus the operator metrics of the workload's own registry ops."""
    extra = {op_metric(op): "s" for op in workload.ops} if workload.tables else {}
    return {**PER_LAYER, **extra}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("lake_sql", "corpus_dedup", "lake_construct"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: self-test inputs")
    p.add_argument("--json-out", help="also write the full run record (passes, counters) here")
    return p.parse_args(argv)


def physical_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)


def pin_environment(work: str) -> dict:
    """Core count, JVM heap size and every scratch location, fixed here
    rather than inherited; returned for the run record."""
    cores = len(os.sched_getaffinity(0))
    heap_mb = min(HEAP_CAP_MB, physical_memory_mb() // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_TASK_RETRIES", None)
    return {"cores": cores, "heap_mb": heap_mb, "work_dir": os.path.relpath(work, ROOT)}


def start_session(work: str):
    from data_lake_construction_and_querying_with_pyspark_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="lake_bench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """VmHWM of the JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def tail(samples: list[float], min_samples: int) -> tuple[float, int]:
    """Op latency at percentile q, and q. q is the highest whole percentile
    with at least ten samples beyond it when the run has its minimum sample
    count; fixing it per workload keeps the metric the same statistic
    whatever number of passes fits in the run (the maximum when that
    minimum is ten samples or fewer)."""
    xs = sorted(samples)
    if min_samples <= 10:
        return xs[-1], 100
    q = 100 * (min_samples - 10) // min_samples
    return xs[max(0, math.ceil(q * len(xs) / 100) - 1)], q


def isolate(spark) -> None:
    """Between ops, outside the timed region: drop what operators persisted
    and collect the JVM heap now, so asynchronous cleanup of one op does not
    land inside the next op's timing."""
    spark.catalog.clearCache()
    spark._jvm.System.gc()


def install_spans(tracer) -> None:
    """Wrap the package's public calls wherever a module holds them: the
    defining module and every module that imported the function by name."""
    from data_lake_construction_and_querying_with_pyspark_spark import acid, catalog, pipeline
    from data_lake_construction_and_querying_with_pyspark_spark.operators import cleaning, validation
    from data_lake_construction_and_querying_with_pyspark_spark.sources import readers, sinks

    targets = {
        readers.load_table: "readers.load_table",
        readers.read_lake: "readers.read_lake",
        validation.validate: "validation.validate",
        cleaning.clean: "cleaning.clean",
        sinks.write_lake: "sinks.write_lake",
        pipeline.run_job: "pipeline.run_job",
        catalog.register_table: "catalog.register_table",
    }
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if callable(val) and val in targets:
                tracer.wrap(mod, attr, targets[val])
    for meth in ("append", "merge_upsert", "delete_where", "compact", "snapshot", "read"):
        tracer.wrap(acid.TransactionalTable, meth, f"acid.{meth}")


def run_pass(ctx, workload, order, gate, oracle, counters, pass_no, record) -> float:
    """Run one pass of ``order``; returns its wall time (ops only)."""
    from workloads import CheckFailed

    workload.before_pass(ctx)
    total = 0.0
    for op in order:
        isolate(ctx.spark)
        group = f"{pass_no}:{op}"
        ctx.tracer.op = group
        if counters:
            counters.start(group)
        t0 = time.perf_counter()
        error = None
        try:
            workload.run_op(ctx, op, gate=gate, oracle=oracle)
        except CheckFailed as e:
            error = f"check: {e}"
        except Exception as e:  # the op raised: count it and keep measuring
            error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        seconds = time.perf_counter() - t0
        if oracle is not None:
            seconds -= oracle.pop_seconds()
        total += seconds
        entry = {"op": op, "seconds": seconds, "ok": error is None}
        if error:
            entry["error"] = error
            print(f"FAIL pass {pass_no} {op}: {error}", file=sys.stderr)
        if counters:
            counters.stop()
            entry["counters"] = counters.collect(group)
        record.append(entry)
    ctx.tracer.op = None
    return total


def layer_metrics(workload, passes, tracer, session_s, cores, overhead_s) -> dict[str, float]:
    """Per-layer values of each traced pass, median over traced passes."""
    from workloads import ACID_COMMITS

    rows = []
    for p in passes:
        if not p["traced"]:
            continue
        ops = p["ops"]
        n_ops = len(ops)
        spans = [s for s in tracer.spans if s.op and s.op.split(":", 1)[0] == str(p["no"])]
        self_s = tracer.self_seconds(spans)
        c = [o["counters"] for o in ops]
        busy = sum(x.task_busy_s for x in c)
        exec_s = sum(x.exec_s for x in c)
        in_rows = sum(x.input_rows for x in c)
        result_rows = sum(workload.result_rows.get(o["op"], 0) for o in ops)
        by_op = {o["op"]: o["seconds"] for o in ops}
        v = {
            "session.get_spark_s": session_s,
            "registry.build_s": self_s.get("registry.build", 0.0) / n_ops,
            "spark.exec_s": exec_s / n_ops,
            "spark.jobs": sum(x.jobs for x in c) / n_ops,
            "spark.tasks": sum(x.tasks for x in c) / n_ops,
            "spark.task_busy_s": busy,
            "spark.core_util": busy / (exec_s * cores) if exec_s else 0.0,
            "spark.shuffle_write_bytes": sum(x.shuffle_write_bytes for x in c),
            "spark.spill_bytes": sum(x.spill_bytes for x in c),
            "readers.input_bytes": sum(x.input_bytes for x in c),
            "readers.input_rows": in_rows,
            "readers.rows_per_result": in_rows / result_rows if result_rows else 0.0,
            "readers.load_table_s": self_s.get("readers.load_table", 0.0),
            "readers.read_lake_s": self_s.get("readers.read_lake", 0.0),
            "validation.validate_s": self_s.get("validation.validate", 0.0),
            "sinks.write_lake_s": self_s.get("sinks.write_lake", 0.0),
            "sinks.output_bytes_per_input_byte": p.get("output_bytes_per_input_byte", 0.0),
            "catalog.register_table_s": self_s.get("catalog.register_table", 0.0),
            "pipeline.ingest_rows_per_s": (
                workload.spec.csv_rows / by_op["run_job_csv_to_parquet"]
                if "run_job_csv_to_parquet" in by_op else 0.0
            ),
            "acid.append_s": self_s.get("acid.append", 0.0),
            "acid.merge_upsert_s": self_s.get("acid.merge_upsert", 0.0),
            "acid.delete_where_s": self_s.get("acid.delete_where", 0.0),
            "acid.compact_s": self_s.get("acid.compact", 0.0),
            "acid.snapshot_s": self_s.get("acid.snapshot", 0.0),
            "acid.files_rewritten": p.get("acid", {}).get("files_rewritten", 0),
            "acid.skipped_files": p.get("acid", {}).get("skipped_files", 0),
            "acid.bytes_written_per_user_byte": p.get("acid", {}).get("bytes_written_per_user_byte", 0.0),
            "acid.commit_p50_s": (
                statistics.median(by_op[o] for o in ACID_COMMITS) if ACID_COMMITS[0] in by_op else 0.0
            ),
            "trace.overhead_s": overhead_s,
        }
        for name in layer_units(workload):
            if name.startswith("operators."):
                v[name] = by_op.get(name[len("operators."):-len("_s")], 0.0)
        rows.append(v)
    return {k: statistics.median(r[k] for r in rows) for k in layer_units(workload)}


def main(argv: list[str]) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    missing = [r for r in REQUIRED if not os.path.isfile(os.path.join(ROOT, r))]
    if missing:
        print(f"perfbench: engine sources not found next to perfbench/: {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    sys.path[:0] = [ROOT, HERE]

    import pyspark

    import spans as tr
    import workloads as wl

    workload = wl.WORKLOADS[args.workload](wl.SIZES[args.size], args.seed)
    inputs, scratch = os.path.join(work, "inputs"), os.path.join(work, "scratch")
    os.makedirs(scratch, exist_ok=True)
    spark = None
    oracle = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        workload.stage(spark, inputs)
        stage_s = time.perf_counter() - t0

        wl.all_queries()  # import every operator module before spans are installed
        tracer = tr.Tracer()
        ctx = wl.Context(spark, inputs, scratch, tracer)
        if workload.tables:
            oracle = wl.Oracle(inputs, workload.tables, os.path.join(work, "tmp"))
        rng = random.Random(args.seed)

        # Warm-up: the first pass is also the correctness gate (every op
        # once, outputs checked); the second runs the timed path unchecked.
        # After one warm-up pass, pass times still fell ~20% from the first
        # timed pass to the third as JIT compilation caught up.
        warmup_ops: list[dict] = []
        warmup_s = run_pass(ctx, workload, workload.order(rng), True, oracle, None, "gate", warmup_ops)
        warmup_s += run_pass(ctx, workload, workload.order(rng), False, None, None, "warmup", warmup_ops)
        setup_s = session_s + stage_s + warmup_s

        counters = tr.JobCounters(spark) if args.trace else None
        if args.trace:
            install_spans(tracer)
        min_passes = MIN_PASSES_TRACED if args.trace else MIN_PASSES
        passes: list[dict] = []
        t_measure = time.perf_counter()
        last = 0.0
        while len(passes) < min_passes or time.perf_counter() - t_measure < args.seconds:
            if passes and time.perf_counter() - t_process + last > DEADLINE_S:
                break
            traced = bool(args.trace) and len(passes) % 2 == 0
            tracer.enabled = traced
            ops: list[dict] = []
            no = len(passes)
            last = run_pass(ctx, workload, workload.order(rng), False, None, counters if traced else None, no, ops)
            passes.append({"no": no, "traced": traced, "seconds": last, "ops": ops, **workload.pass_record(ctx)})
        tracer.enabled = False
        rss = peak_rss_mb(spark)

        all_ops = warmup_ops + [o for p in passes for o in p["ops"]]
        failed = sum(not o["ok"] for o in all_ops)
        plain = [p for p in passes if not p["traced"]]
        traced_passes = [p for p in passes if p["traced"]]
        pass_s = statistics.median(p["seconds"] for p in plain) if plain else None
        op_samples = [o["seconds"] for p in plain for o in p["ops"]]
        env.update(
            spark=pyspark.__version__, seed=args.seed, workload=args.workload, size=args.size,
            passes=len(passes), stage_s=stage_s,
            session_s=session_s, warmup_s=warmup_s, pass_times=[p["seconds"] for p in passes],
            measure_start_s=t_measure - t_process, result_s=time.perf_counter() - t_process,
        )
        print("env " + json.dumps(env))
        print(f"failed_ops {failed}/{len(all_ops)} (ratio)")
        for o in all_ops:
            if not o["ok"]:
                print(f"  failed {o['op']}: {o['error']}")

        if args.trace:
            overhead = (
                statistics.median(p["seconds"] for p in traced_passes) - pass_s if plain else 0.0
            )
            metrics = layer_metrics(workload, passes, tracer, session_s, env["cores"], overhead)
            units = layer_units(workload)
            os.makedirs(os.path.join(ROOT, ".bench_work", "traces"), exist_ok=True)
            span_path = os.path.join(ROOT, ".bench_work", "traces", f"{args.workload}-s{args.seed}.json")
            tracer.dump(span_path)
            print(f"spans written to {os.path.relpath(span_path, ROOT)} ({len(tracer.spans)} spans)")
            print(f"tracing overhead {overhead:+.4f} s per pass (traced minus untraced pass_s)")
        else:
            tail_s, tail_pct = tail(op_samples, MIN_PASSES * len(workload.ops))
            metrics = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "op_p50_s": statistics.median(op_samples),
                "op_tail_s": tail_s,
                "peak_rss_mb": rss,
            }
            units = END_TO_END
            print(f"op_tail_s is p{tail_pct} over {len(op_samples)} op samples")
            if args.workload == "lake_construct":
                def op_times(names) -> list[float]:
                    return [o["seconds"] for p in plain for o in p["ops"] if o["op"] in names]

                ingest = workload.spec.csv_rows / statistics.median(op_times(("run_job_csv_to_parquet",)))
                print(f"ingest_rows_per_s {ingest:.1f} (rows/s)")
                print(f"commit_p50_s {statistics.median(op_times(wl.ACID_COMMITS)):.4f} (s)")
        for name, value in metrics.items():
            print(f"{name} {value:.6g} ({units[name]})")

        if args.json_out:
            with open(args.json_out, "w") as fh:
                json.dump(
                    {"env": env, "metrics": metrics, "warmup": warmup_ops, "passes": passes},
                    fh, default=lambda o: {k: v for k, v in vars(o).items() if k != "stages"},
                )
        result = {
            "correct": failed == 0,
            "attempted": len(all_ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if failed == 0 else 1
    finally:
        if oracle is not None:
            oracle.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
