#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 steadybench/run.py --workload migdar_dag --seed 1 --seconds 45 --trace 0

From the root of a checkout. The run starts one Spark session on
``local[<cores>]`` with a heap sized to the host, generates the workload's
inputs from ``--seed``, runs a fixed amount of work from one client thread
(one pass per ``NOMINAL_PASS_S`` of ``--seconds``, at least one), checks
every op's output, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` enables the Spark UI's REST API and
reports the per-layer metrics instead. Everything the run writes goes
under ``.steadybench_work/`` in the checkout; a JSON artifact of each run
(host fingerprint, floor probes, every op, spans) is kept in
``.steadybench_work/results/`` for ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".steadybench_work")
RESULTS = os.path.join(WORK_ROOT, "results")

# Fixed work per run: one pass per NOMINAL_PASS_S seconds of --seconds, so
# the same --seconds always means the same work, whatever the code's speed.
NOMINAL_PASS_S = 45
# Heap: a quarter of physical memory, at most 2 GiB, which the inputs need
# many times over (the engine's 24g default cannot start on a 15 GB host).
HEAP_MAX_MB = 2048

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.gen_s": "s",
    "plans.call_s": "s",
    "plans.action_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "llm.dedup_s": "s",
    "llm.similarity_s": "s",
    "operators.graph_s": "s",
    "pipelines.flow_s": "s",
    "pipelines.jobs": "count",
    "sinks.dump_s": "s",
    "sinks.bytes_written": "bytes",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.lifecycle_s": "s",
    "streaming.curate_jobs": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_ratio": "ratio",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.scan_s": "s",
    "exec.python_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_retries": "count",
    "driver.gap_s": "s",
    "trace.overhead_s": "s",
}


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class PssSampler:
    """Peak summed PSS of this process and all its descendants (the JVM and
    its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        import stats

        self._stats = stats
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self):
        self.peak = max(self.peak, self._stats.pss_mb(self._stats.process_tree(os.getpid())))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def floor_probe(spark) -> dict:
    """A fixed small Spark scan and a fixed Python loop, each the median of
    three, so a host that slowed down shows in the artifact."""
    import statistics

    spark_s, py_s = [], []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 2_000_000, numPartitions=4).selectExpr("sum(id % 7) AS s").collect()
        spark_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i % 7
        py_s.append(time.perf_counter() - t)
    return {"spark_scan_s": statistics.median(spark_s), "python_loop_s": statistics.median(py_s)}


def warm_up(spark) -> None:
    """Start the Python worker pool and the Arrow path once, on every
    core, before the first timed op."""
    import pandas as pd  # noqa: F401  (the workers import it too)

    def ident(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * n, numPartitions=n).mapInPandas(ident, "id long").collect()


def host_fingerprint(spark, heap_mb: int) -> dict:
    import stats

    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {
        "cores": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "mem_total_mb": stats.mem_total_mb(),
        "heap_mb": heap_mb,
        "spark_version": spark.version,
        "python": platform.python_version(),
        "loadavg_at_start": os.getloadavg(),
    }


def last_untraced_pass_s(workload: str, seconds: int) -> tuple[float | None, str]:
    """pass_s of the newest untraced run of this workload in this checkout,
    the baseline the tracing overhead is measured against."""
    best = None
    if os.path.isdir(RESULTS):
        for name in os.listdir(RESULTS):
            if not (name.startswith(workload + "-") and name.endswith("-trace0.json")):
                continue
            path = os.path.join(RESULTS, name)
            with open(path) as f:
                r = json.load(f)
            if r["args"]["seconds"] != seconds or not r["correct"]:
                continue
            if best is None or r["finished_at"] > best[1]["finished_at"]:
                best = (name, r)
    if best is None:
        return None, "no untraced run of this workload in this checkout yet"
    return best[1]["metrics"]["pass_s"]["value"], best[0]


def streaming_metrics(ops: list[dict], progress) -> dict:
    """Micro-batch phase times, state-store size and the dedup drop ratio
    from the progress events of the streaming ops."""
    evs = [p for op in ops for p in progress.between(op["start"], op["end"])]

    def dur(key):
        return sum(p.get("durationMs", {}).get(key, 0) for p in evs)

    last_by_run = {}
    for p in evs:
        last_by_run[p["runId"]] = p
    state_ops = [so for p in evs for so in p.get("stateOperators", [])]
    dedup = [(p["numInputRows"], so["numRowsUpdated"]) for p in evs
             for so in p.get("stateOperators", []) if so["operatorName"].startswith("dedupe")]
    seen = sum(i for i, _ in dedup)
    return {
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.lifecycle_s": sum(op["seconds"] for op in ops) - dur("triggerExecution") / 1e3,
        "streaming.curate_jobs": sum(op.get("jobs", 0) for op in ops),
        "streaming.state_rows": sum(so["numRowsTotal"] for p in last_by_run.values()
                                    for so in p.get("stateOperators", [])),
        "streaming.state_bytes": sum(so["memoryUsedBytes"] for p in last_by_run.values()
                                     for so in p.get("stateOperators", [])),
        "streaming.state_commit_ms": sum(so.get("commitTimeMs", 0) for so in state_ops),
        "streaming.rows_dropped_ratio": (1 - sum(u for _, u in dedup) / seen) if seen else 0.0,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "migdar_data_pipelines_spark", "__init__.py")):
        print(f"steadybench: no migdar_data_pipelines_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import stats
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"steadybench: unknown workload {args.workload!r} "
              f"(have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    n_passes = max(1, round(args.seconds / NOMINAL_PASS_S))

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(RESULTS, exist_ok=True)

    heap_mb = min(HEAP_MAX_MB, stats.mem_total_mb() // 4)
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory,
        # so the run writes nothing outside the checkout.
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    extra = {}
    if traced:
        extra = {
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }

    workload = WORKLOADS[args.workload](args.seed, work)
    result: dict = {"args": vars(args), "passes": n_passes}
    spans = None
    with PssSampler() as pss:
        from migdar_data_pipelines_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"steadybench-{args.workload}", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t0
        try:
            result["host"] = host_fingerprint(spark, heap_mb)
            probes = {"start": floor_probe(spark)}

            gen_s = []
            for _ in range(3):
                t0 = time.perf_counter()
                frames = workload.generate(spark)
                gen_s.append(time.perf_counter() - t0)
            workload.setup(spark, frames)
            t0 = time.perf_counter()
            warm_up(spark)
            warmup_s = time.perf_counter() - t0

            tracer = progress = None
            if traced:
                from tracing import ProgressLog, Tracer

                tracer = Tracer()
                progress = ProgressLog()
                spark.streams.addListener(progress.listener)
            # Inputs were generated three times for a steadier figure; count
            # one generation, the median one, in the set-up time.
            setup_s = time.time() - t_start - (sum(gen_s) - stats.median(gen_s))

            ops, pass_s, foreign = [], [], []
            for i in range(n_passes):
                cpu0 = stats.cpu_jiffies(stats.process_tree(os.getpid()))
                t0 = time.perf_counter()
                ops += workload.run_pass(spark, tracer)
                pass_s.append(time.perf_counter() - t0)
                foreign.append(stats.foreign_cpu_share(
                    cpu0, stats.cpu_jiffies(stats.process_tree(os.getpid()))))
                if i == n_passes // 2 or n_passes == 1:
                    probes["middle"] = floor_probe(spark)
            pss.sample()
            peak_rss_mb = pss.peak

            workload.check(spark, ops)
            probes["end"] = floor_probe(spark)
            result["floor_probes"] = probes
            result["foreign_cpu_share"] = foreign

            failed = sum(1 for op in ops if not op.get("ok"))
            op_s = [op["seconds"] for op in ops]
            tail_s, tail_pct, tail_n = stats.tail(op_s)
            result["op_tail"] = {"percentile": tail_pct, "samples": tail_n}
            if traced:
                from tracing import RestClient, attribute, collect_rest, self_times

                sc = spark.sparkContext
                attribute(collect_rest(RestClient(sc.uiWebUrl, sc.applicationId)), ops)
                base, source = last_untraced_pass_s(args.workload, args.seconds)
                result["overhead_baseline"] = source
                layer = {k: 0.0 for k in PER_LAYER}
                layer.update({
                    "session.start_s": session_start_s,
                    "session.warmup_s": warmup_s,
                    "sources.gen_s": stats.median(gen_s),
                    "exec.executor_run_s": sum(op["executor_run_s"] for op in ops),
                    "exec.executor_cpu_s": sum(op["executor_cpu_s"] for op in ops),
                    "exec.gc_s": sum(op["gc_s"] for op in ops),
                    "exec.scan_s": sum(op["scan_s"] for op in ops),
                    "exec.python_s": sum(op["python_s"] for op in ops),
                    "exec.shuffle_write_bytes": sum(op["shuffle_write_bytes"] for op in ops),
                    "exec.spill_bytes": sum(op["spill_bytes"] for op in ops),
                    "exec.task_retries": sum(op["task_retries"] for op in ops),
                    "driver.gap_s": sum(op["gap_s"] for op in ops),
                    "trace.overhead_s": (stats.median(pass_s) - base) if base else 0.0,
                })
                layer.update(workload.layer_metrics(ops, tracer))
                if hasattr(workload, "streaming_ops"):
                    layer.update(streaming_metrics(workload.streaming_ops(ops), progress))
                per_pass = {k: v / n_passes for k, v in layer.items()
                            if not k.startswith(("session.", "sources.", "streaming.state_rows",
                                                 "streaming.state_bytes", "streaming.rows_",
                                                 "trace."))}
                layer.update(per_pass)
                metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
                result["traced_pass_s"] = pass_s
                spans = [dict(vars(s), self_s=t)
                         for s, t in zip(tracer.spans, self_times(tracer.spans))]
            else:
                values = {
                    "setup_s": setup_s,
                    "pass_s": stats.median(pass_s),
                    "op_p50_s": stats.median(op_s),
                    "op_tail_s": tail_s,
                    "peak_rss_mb": peak_rss_mb,
                }
                metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        finally:
            stop_spark(spark)

    result.update({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
        "ops": [{k: v for k, v in op.items() if k != "resources"} for op in ops],
        "spans": spans,
        "finished_at": time.time(),
    })
    out = os.path.join(RESULTS, f"{args.workload}-s{args.seed}-{int(time.time())}"
                                f"-{os.getpid()}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for op in ops:
        if not op.get("ok"):
            print(f"FAILED {op['name']}: {op.get('why')}")
    print(f"host {json.dumps(result['host'])}")
    print(f"op_tail_s at p{result['op_tail']['percentile']:.0f} of "
          f"{result['op_tail']['samples']} ops; artifact {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
