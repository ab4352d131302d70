"""Repository benchmark: one closed-loop client per workload process.

    python3 perfbench/run.py --workload registry_fixed_cost --seed 1 --seconds 15 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``registry_fixed_cost``: the sub-second registry queries recorded in
  ``perfbench/workloads.json``, each checked against its DuckDB oracle;
- ``esds_pipeline``: the E1→E3 lifecycle, construct → fit → save/load
  → transform → tensorize → parquet write, checked on the written data.

The seed only shapes the generated inputs; the program sees nothing
else. The run sets ``SPARK_GRAFT_CPUS`` to the core count, so it runs
on ``local[N]``, with a fixed 2 GB driver heap. Every op waits for the
previous one. Runs read and write only inside the checkout.

A run is: session start; input generation under ``perfbench/.work``;
untimed, unchecked warm-up passes over the op list (the first pass
pays JIT, codegen and Python-worker start-up and took 1.5-2.3x a warm
pass; a warm-up op that throws ends the run);
the host calibration; then ``--seconds`` divided by the workload's
nominal pass time whole passes, at least one, timed op by op; then the
calibration again and the correctness checks. ``setup_s`` is process
start to the first timed op, so it includes the warm-up.

End-to-end metrics (``--trace 0``): ``setup_s``; ``wall_s``, the time
of one pass over the fixed op list, each op at its median;
``latency_p50_s``; ``latency_tail_s``, the highest percentile with at
least 10 samples beyond it (printed beside it); ``peak_rss_mb``, the
peak resident memory of this process, the driver JVM and the Python
workers. ``error_rate`` is printed, and is ``failed / attempted`` of
the result line: an op fails if it throws or returns a wrong result.

``--trace 1`` alternates untraced and traced passes. The traced passes
give every per-layer metric, each per pass of the op list, and
``trace.overhead_s`` is their ``wall_s`` minus that of the untraced
passes. Spans are written to
``perfbench/.work/trace-<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _prepare_environment() -> None:
    """Make the run independent of the working directory and keep every
    file it writes inside the checkout."""
    sys.path[:0] = [ROOT, HERE]
    # Python workers are started by the JVM, which inherits this
    # environment: without the repo root on PYTHONPATH, applyInPandas
    # workers cannot import eventstreamml_spark.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # A fixed 2 GB driver heap (-Xmx here, -Xms below): with the heap
    # free to grow, peak resident memory followed GC timing and spread
    # 20-30% between identical runs.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no /tmp/hsperfdata files from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms2g'",
        "pyspark-shell",
    ])
    os.chdir(WORK)  # derby.log, metastore_db and friends land here


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident memory (VmHWM) of this process, the
    driver JVM and every process the JVM started (the Python workers)
    that is still alive. Read once at the end of the run, so it costs
    the measured ops nothing."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while being read
    pids, frontier = [os.getpid()], [jvm_pid]
    while frontier:
        pid = frontier.pop()
        pids.append(pid)
        frontier.extend(c for c, p in parent.items() if p == pid)
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def calibrate(spark) -> float:
    """The fixed ``spark.range`` workload of bench.py: median of 3."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def jvm_gc_s(spark) -> float:
    """Total garbage-collection time of the driver JVM so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, bean.getCollectionTime()) for bean in beans) / 1000


def run_op(workload, op: str, tracer=None) -> tuple[float, dict | None]:
    """One op: build, then the final action, timed together; then the
    workload inspects the result with the clock stopped. Returns the
    op's seconds and its result, None if it threw."""
    op_span = tracer.start(op, "op") if tracer else None
    t0 = time.perf_counter()
    try:
        span = tracer.start(op, "build") if tracer else None
        state = workload.build(op)
        t1 = time.perf_counter()
        if tracer:
            tracer.end(span)
            span = tracer.start(op, "action")
        value = workload.action(state)
        t2 = time.perf_counter()
    except Exception as e:  # an op that throws counts as failed
        print(f"# op {op} failed: {type(e).__name__}: {e}", file=sys.stderr)
        return time.perf_counter() - t0, None
    finally:
        if tracer:
            tracer.end(op_span)
    try:
        result = workload.inspect(op, state, value, tracer is not None)
    except Exception as e:  # a result that cannot be checked is wrong
        print(f"# op {op} check failed: {type(e).__name__}: {e}", file=sys.stderr)
        return t2 - t0, None
    result.update(build_s=t1 - t0, action_s=t2 - t1)
    return t2 - t0, result


def timed_ops(workload, seconds: float, tracer=None) -> tuple[list, list]:
    """Closed loop of whole passes over the op list. The pass count is
    fixed by ``seconds`` and the workload's nominal pass time, not by
    the clock, so every run does the same ops in the same order. With a
    tracer, passes alternate untraced and traced (at least one each), so
    warm-up drift does not land on one side of ``trace.overhead_s``.
    Returns the untraced and the traced ``(op, seconds, result)``."""
    passes = max(2 if tracer else 1, int(seconds // workload.nominal_pass_s))
    plain, traced = [], []
    for i in range(passes):
        on = tracer is not None and i % 2 == 1
        if tracer:
            tracer.active = on
        (traced if on else plain).extend(
            (op, *run_op(workload, op, tracer if on else None)) for op in workload.ops
        )
    return plain, traced


def wall_s(samples, ops) -> float:
    """One pass over the op list, each op at its median time."""
    return sum(statistics.median([t for o, t, _ in samples if o == op]) for op in ops)


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted
    mean of all order statistics. The workloads mix a few op kinds, so
    a single order statistic jumps between kinds from run to run; the
    weighted mean moves smoothly."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf = np.concatenate([[0.0], cdf / cdf[-1], [1.0]])
    grid = np.concatenate([[0.0], grid, [1.0]])
    edges = np.interp(np.arange(n + 1) / n, grid, cdf)
    return float(np.dot(np.diff(edges), x))


def tail(times: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and
    its Harrell-Davis estimate. Fewer than 11 samples: the maximum."""
    n = len(times)
    if n <= 10:
        return max(times), 100.0
    p = (n - 10) / n
    return hd_quantile(times, p), 100.0 * p


def layer_metrics(tracer, samples, n_ops: int, cores: int) -> dict[str, float]:
    """The per-layer table, per pass of the op list, from the spans of
    the traced ops."""
    from spans import self_times

    passes = len(samples) / n_ops
    by_id = {s["id"]: s for s in tracer.spans}

    def op_of(span):
        while span["parent"] is not None:
            span = by_id[span["parent"]]
        return span if span["layer"] == "op" else None

    in_ops = [s for s in tracer.spans if op_of(s) is not None and s["end"] is not None]
    selft = self_times(in_ops)
    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    for s in in_ops:
        c = s.get("spark", {})
        phase = s
        while phase["layer"] not in ("build", "action", "op"):
            phase = by_id[phase["parent"]]
        if phase["layer"] == "build":
            add("queries.build_jobs", c.get("jobs", 0))
        elif phase["layer"] == "action":
            add("exec.jobs", c.get("jobs", 0))
            add("exec.stages", c.get("stages", 0))
            add("exec.tasks", c.get("tasks", 0))
            add("exec.failed_tasks", c.get("failed_tasks", 0))
            add("exec.executor_run_s", c.get("executor_run_ms", 0) / 1000)
            add("exec.shuffle_write_bytes", c.get("shuffle_write_bytes", 0))
        if s["layer"] in ("build", "action"):
            add("queries.build_s" if s["layer"] == "build" else "exec.collect_s", s["end"] - s["start"])
        elif s["layer"] != "op":
            add(f"{s['layer']}_s", selft[s["id"]])
            if s["layer"] == "sources.load":
                add("sources.load_calls", 1)
            if s["layer"] == "preprocessing.fit":
                add("preprocessing.fit_jobs", c.get("jobs", 0))
    for _, _, r in samples:
        if r is None:
            continue
        add("exec.rows_out", r["rows"])
        add("export.bytes_written", r.get("bytes_written", 0))
        for phase, ms in r.get("catalyst_ms", {}).items():
            add(f"catalyst.{phase}_s", ms / 1000)
    out = {k: v / passes for k, v in m.items()}
    build, collect = out.get("queries.build_s", 0.0), out.get("exec.collect_s", 0.0)
    out["queries.build_share"] = build / (build + collect)
    out["exec.slot_busy_ratio"] = out.get("exec.executor_run_s", 0.0) / (collect * cores)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["registry_fixed_cost", "esds_pipeline"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    _prepare_environment()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from eventstreamml_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    cores = spark.sparkContext.defaultParallelism
    jvm = spark.sparkContext._gateway.proc
    try:
        if args.workload == "registry_fixed_cost":
            from registry import RegistryWorkload as Workload
        else:
            from esds import EsdsWorkload as Workload
        workload = Workload(spark, WORK, args.seed)
        for _ in range(workload.warmup_passes):
            for op in workload.ops:
                workload.action(workload.build(op))
        cal_start = calibrate(spark)
        setup_s = time.perf_counter() - T_START

        tracer = None
        if args.trace:
            from spans import Tracer, install_layer_wrappers

            tracer = Tracer(spark)
            install_layer_wrappers(tracer)
        gc0 = jvm_gc_s(spark)
        samples, traced = timed_ops(workload, args.seconds, tracer)
        gc_s = jvm_gc_s(spark) - gc0
        if tracer:
            tracer.harvest([s for s in tracer.spans if s["end"] is not None])
        cal_end = calibrate(spark)

        ran = [(op, r) for op, _, r in samples + traced]
        verdicts = iter(workload.verify([(op, r) for op, r in ran if r is not None]))
        ok = [r is not None and next(verdicts) for _, r in ran]
        rss_mb = peak_rss_mb(jvm.pid)
    finally:
        spark.stop()
        # the JVM exits when its stdin closes; wait for it, so no
        # process of this run outlives it
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    all_samples = samples + traced
    attempted = len(all_samples)
    failed = attempted - sum(ok)
    times = [t for _, t, _ in samples]
    tail_v, tail_pct = tail(times)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s(samples, workload.ops),
        "latency_p50_s": hd_quantile(times, 0.5),
        "latency_tail_s": tail_v,
        "peak_rss_mb": rss_mb,
    }
    print(f"# {args.workload} seed {args.seed}: {attempted} ops, {failed} failed, "
          f"error_rate {failed / attempted:.4f}")
    print(f"# latency_tail_s is p{tail_pct:.1f} of {len(times)} samples "
          f"({min(10, len(times) - 1)} beyond it); percentiles are Harrell-Davis estimates")
    print("# op seconds: " + " ".join(f"{t:.3f}" for _, t, _ in all_samples), file=sys.stderr)
    print(f"# host.calibration_s start {cal_start:.4f} end {cal_end:.4f}")
    if args.trace:
        layer = layer_metrics(tracer, traced, len(workload.ops), cores)
        layer.update({
            "session.start_s": session_s,
            "jvm.gc_s": gc_s * len(workload.ops) / len(samples + traced),
            "oracle.duckdb_s": workload.oracle_s / workload.oracle_passes,
            "host.calibration_s": cal_start,
            "host.calibration_end_s": cal_end,
            "trace.overhead_s": wall_s(traced, workload.ops) - e2e["wall_s"],
        })
        with open(os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "samples": [(o, t) for o, t, _ in traced]}, f)
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
