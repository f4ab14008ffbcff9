"""Benchmark entry point.

    python3 perfbench/run.py --workload pxl_interactive --seed 1 --seconds 8 --trace 0

Generates the workload's inputs from ``--seed``, sets up once from a
cold JVM (``setup_s``: ``get_spark``, table registration and the
warm-up), runs timed operations for ``--seconds`` (whole script
rotations for the PxL workloads; the whole backlog for
``pxl_stream``), checks every output, and prints a report followed by
one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the event log is enabled at JVM launch, spans are
recorded, and the metrics are the per-layer ones (see README.md in
this directory). Scratch files live under ``.perfbench/`` in the
checkout and are removed at exit; traced runs keep their spans in
``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_DRIVER_MEM_MB = 4096
YOUNG_GEN_MB = 512


def size_session(work: str, trace: bool) -> None:
    """Size the session to the box through the variables get_spark reads,
    and keep every scratch file inside ``work``."""
    import sparkstats

    with open("/proc/meminfo") as f:
        mem_mb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap = f"{min(MAX_DRIVER_MEM_MB, mem_mb // 4)}m"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # a fixed heap and young generation: the peak RSS then follows the
    # live data instead of how far adaptive sizing grew the heap
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{heap} -Xmn{YOUNG_GEN_MB}m"
    submit = f"--conf 'spark.driver.extraJavaOptions={java_opts}' "
    if trace:
        log_dir = os.path.join(work, sparkstats.EVENT_LOG_DIR)
        os.makedirs(log_dir, exist_ok=True)
        submit += sparkstats.event_log_submit_args(log_dir)
    else:
        submit += "pyspark-shell"
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit


def shutdown(spark) -> None:
    """Stop the session and the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, tracer, log, event_totals) -> dict[str, tuple[float, str]]:
    """Every per-layer metric as (value, unit); 0 where the workload
    does not exercise the layer."""
    import sparkstats
    from stats import self_times

    spans = tracer.spans

    def durations(name: str) -> list[float]:
        return [s.end - s.start for s in spans if s.name == name]

    ops = log.attempted
    traced = [lat for lat, t in zip(log.latencies, wl.traced_ops) if t]
    plain = [lat for lat, t in zip(log.latencies, wl.traced_ops) if not t]
    layer_self: dict[str, float] = {}
    for s, own in zip(spans, self_times(spans)):
        if s.op is not None:
            layer = "bench" if s.name == "op" else s.name.split(".")[0]
            layer_self[layer] = layer_self.get(layer, 0.0) + own
    jobs, stages, tasks = (sum(c[i] for c in wl.layer.get("exec", [])) for i in range(3))
    L = wl.layer
    progress = sparkstats.progress_means(
        L.get("progress", []), ("addBatch", "queryPlanning", "walCommit")
    )
    gaps = L.get("gaps", [])
    growth = 0.0
    if len(gaps) > 2:
        import numpy as np

        growth = float(np.polyfit(np.arange(1, len(gaps)), gaps[1:], 1)[0])
    candidates, verified = sum(L.get("candidates", [])), sum(L.get("verified", []))
    n_traced = max(1, len(traced))
    scan_ops = max(1, L.get("scan_ops", 0))
    s, c, r, b, ms = "s", "count", "ratio", "B", "ms"
    return {
        "session.get_spark_s": (_median(durations("session.get_spark")), s),
        "sources.register_s": (_median(durations("sources.register")), s),
        "streaming.layout_s": (L.get("layout_s", 0.0), s),
        "api.compile_pxl_s": (_median(durations("api.compile_pxl")), s),
        "api.run_script_s": (_median(durations("api.run_script")), s),
        "api.collect_s": (_median(durations("api.collect")), s),
        "exec.jobs_per_op": (jobs / ops, c),
        "exec.stages_per_op": (stages / ops, c),
        "exec.tasks_per_op": (tasks / ops, c),
        "sources.rows_scanned_per_op": (L.get("rows_scanned", 0) / scan_ops, c),
        "sources.bytes_scanned_per_op": (L.get("bytes_scanned", 0) / scan_ops, b),
        "sources.scan_selectivity": (
            L.get("rows_in_window", 0) / L["rows_scanned"] if L.get("rows_scanned") else 0.0, r
        ),
        "exec.task_cpu_s_per_op": (event_totals["task_cpu_s"] / ops, s),
        "exec.shuffle_bytes_per_op": (event_totals["shuffle_bytes"] / ops, b),
        "exec.gc_s_per_op": (event_totals["gc_s"] / ops, s),
        "exec.spill_bytes_per_op": (event_totals["spill_bytes"] / ops, b),
        "streaming.refresh_gap_s": (_median(gaps), s),
        "streaming.refresh_run_script_s": (_median(L.get("run_script", [])), s),
        "streaming.add_batch_ms": (progress["addBatch"], ms),
        "streaming.query_planning_ms": (progress["queryPlanning"], ms),
        "streaming.wal_commit_ms": (progress["walCommit"], ms),
        "streaming.input_rows_per_batch": (progress["numInputRows"], c),
        "streaming.refresh_growth_s_per_batch": (growth, s),
        "streaming.snapshot_files": (L.get("snapshot_files", 0), c),
        "operators.clean_s": (_median(durations("operators.clean")), s),
        "operators.exact_dedup_s": (_median(durations("operators.exact_dedup")), s),
        "operators.minhash_signatures_s": (_median(durations("operators.minhash_signatures")), s),
        "operators.lsh_candidates_s": (_median(durations("operators.lsh_candidates")), s),
        "operators.lsh_verify_s": (_median(durations("operators.lsh_verify")), s),
        "operators.components_s": (_median(durations("operators.components")), s),
        "operators.candidate_pairs": (candidates / max(1, len(L.get("candidates", []))), c),
        "operators.verified_pairs": (verified / max(1, len(L.get("verified", []))), c),
        "operators.verify_yield": (verified / candidates if candidates else 0.0, r),
        **{
            f"self.{layer}_s_per_op": (layer_self.get(layer, 0.0) / n_traced, s)
            for layer in ("bench", "api", "streaming", "operators")
        },
        "trace.latency_p50_s": (_median(traced), s),
        "trace.overhead_ratio": (_median(traced) / _median(plain) if traced and plain else 0.0, r),
    }


def report(args, log, setup_s: float, rss: float, t_measure: float) -> dict[str, float]:
    """Print every end-to-end metric by name and unit; return the ones
    the JSON line carries."""
    from stats import tail

    lats = log.latencies
    p50 = statistics.median(lats)
    rows_per_s = log.rows / sum(lats)
    try:
        value, pct, beyond = tail(lats)
        tail_text = f"{value:.4f} s (p{pct:.1f}, n={len(lats)}, {beyond} beyond)"
    except ValueError:
        tail_text = f"undefined (n={len(lats)}: a tail needs more than 10 samples)"
    print(f"workload {args.workload} seed {args.seed}:")
    print(f"  latencies       {[round(x, 3) for x in lats]}")
    print(f"  measure         {t_measure:.1f} s")
    print(f"  setup_s         {setup_s:.4f} s")
    print(f"  latency_p50_s   {p50:.4f} s (n={len(lats)})")
    print(f"  latency_tail_s  {tail_text}")
    print(f"  rows_per_s      {rows_per_s:.1f} 1/s ({log.rows} rows in {sum(lats):.2f} s)")
    print(f"  error_rate      {log.error_rate:.4f} ratio ({log.failed}/{log.attempted})")
    print(f"  peak_rss_mb     {rss:.1f} MiB")
    for e in log.errors[:5]:
        print(f"  FAILED: {e}")
    return {"latency_p50_s": p50, "rows_per_s": rows_per_s, "peak_rss_mb": rss, "setup_s": setup_s}


END_TO_END_UNITS = {"latency_p50_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MiB", "setup_s": "s"}


def run(args, work: str) -> dict:
    import numpy as np

    import sparkstats
    from stats import OpLog, Tracer
    from workloads import WORKLOADS

    from pixie_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](tracer, os.path.join(work, "data"), work)
    t_gen = time.perf_counter()
    for table, (rows, size) in wl.generate(np.random.default_rng(args.seed)).items():
        print(f"input {table}: rows={rows} bytes={size}")
    print(f"generated in {time.perf_counter() - t_gen:.1f} s")

    # one set-up from a cold JVM: a second set-up in the same process
    # would reuse the loaded classes, JIT and codegen caches
    t0 = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            wl.spark = get_spark("perfbench")
        with tracer.span("sources.register"):
            wl.register()
        with tracer.span("warm_up"):
            wl.warm_up()
    setup_s = time.perf_counter() - t0
    print("environment:", json.dumps(sparkstats.environment(wl.spark)))

    log = OpLog()
    t_measure = time.perf_counter()
    wl.measure(args.seconds, log, bool(args.trace))
    t_measure = time.perf_counter() - t_measure
    rss = sparkstats.peak_rss_mb(sparkstats.jvm_pid(wl.spark))
    metrics = report(args, log, setup_s, rss, t_measure)
    out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    # task metrics come from the event log, complete once the session stops
    shutdown(wl.spark)
    if args.trace:
        totals = sparkstats.event_log_totals(os.path.join(work, sparkstats.EVENT_LOG_DIR), wl.groups)
        layer = per_layer(wl, tracer, log, totals)
        out = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        for k, v in out.items():
            print(f"  {k:40s} {v['value']:.6g} {v['unit']}")
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(tracer.to_json(), f)
    return {"correct": log.failed == 0, "attempted": log.attempted, "failed": log.failed, "metrics": out}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pixie_spark")):
        print(f"no pixie_spark package in {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    size_session(work, bool(args.trace))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
