"""Seeded benchmark of the engine's public entry points.

Run from the root of a checkout:

    python3 ragbench/run.py --workload serve_reads --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}. With
--trace 0 it holds the end-to-end metrics; with --trace 1 the per-layer
metrics of a separately traced run. The full record, with the host
fingerprint and per-op times, is written to
.ragbench_work/results/<workload>-seed<seed>-trace<t>.json; a traced run
also writes its spans next to it. See ragbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

WORKLOADS = ("serve_reads", "watcher_delta")
SETUP_REPEATS = 3  # input generation runs this often; setup_s takes its median

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {  # name -> unit
    "session.start_s": "s",
    "session.warmup_s": "s",
    "engine.codegen_compiles": "count",
    "engine.codegen_compile_s": "s",
    "engine.jit_s": "s",
    "engine.jobs_per_op": "count",
    "engine.stages_per_op": "count",
    "engine.tasks_per_op": "count",
    "engine.planning_s_per_op": "s",
    "engine.driver_s_per_op": "s",
    "engine.core_busy_share": "ratio",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_write_bytes": "B",
    "engine.shuffle_read_bytes": "B",
    "engine.spill_bytes": "B",
    "engine.task_skew": "ratio",
    "engine.python_udf_s": "s",
    "engine.arrow_bytes_to_python": "B",
    "io.scan_rows": "count",
    "io.scan_bytes": "B",
    "io.scan_s": "s",
    "sources.html_table.rows_out": "count",
    "sources.html_table.python_s": "s",
    "sources.jsonl.write_s": "s",
    "sources.jsonl.bytes": "B",
    "sources.jsonl.files": "count",
    "plans.pipelines.build_s": "s",
    "plans.pipelines.delta_share": "ratio",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.trigger_s": "s",
    "streaming.input_rows": "count",
    **{f"operators.{fam}.merge_s": "s" for fam in (
        "neardup", "corpus_stats", "rollup", "freq", "hll", "kmv", "countmin",
        "bloom")},
    **{f"operators.{fam}.read_s": "s" for fam in (
        "freq", "countmin", "hll", "kmv", "corpus_stats")},
    "operators.state.lease_s": "s",
    "operators.state.commit_s": "s",
    "operators.state.commits": "count",
    "operators.state.live_version_dir_s": "s",
    "operators.statefs.bytes_written": "B",
    "operators.state.bytes_per_doc": "B",
    "trace.ops": "count",
    "trace.op_p50_s": "s",
    "trace.op_p90_s": "s",
}


def _process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T_PROCESS = _process_start()


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _pin_environment(root: str, work: str, cpus: int) -> None:
    """Everything the engine reads from the environment, pinned so a run
    depends only on the checkout and the host's core count."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # Python and its workers
    for var in ("SPARK_MASTER", "SPARK_GRAFT_PREFER_SMJ",
                "SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _start_spark(work: str, trace: bool):
    from rag_pipelines_spark import session

    # session.get_spark evaluates its fallback local dir (under a fixed
    # repository path) even when SPARK_LOCAL_DIRS is set; point it at the
    # pinned directory so a run writes only inside its checkout
    session._scratch_local_dir = lambda: os.environ["SPARK_LOCAL_DIRS"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a resident, pre-touched driver heap: peak RSS then moves with
        # native and off-heap memory, not with when the heap happened to
        # grow; JVM temp files stay in the run's directory
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return session.get_spark("ragbench", extra_conf=conf)


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _peak_rss_mb() -> float:
    """Driver JVM high-water RSS plus this Python driver's max RSS."""
    jvm_kb = 0
    proc = _jvm_proc()
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    found, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            if child not in found:
                found.add(child)
                todo.append(child)
    return found


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM and every process
    it started (the Python workers) have exited."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    gateway = SparkContext._gateway
    started = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while started and time.time() < deadline:
        started = {p for p in started if _running(p)}
        time.sleep(0.1)
    for pid in started:  # still running after 30 s
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _fingerprint(root: str, spark) -> dict:
    h = hashlib.md5()
    for path in sorted(glob.glob(os.path.join(root, "rag_pipelines_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    commit = None
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(root, ".git", ref[5:])
            if os.path.exists(ref_path):
                with open(ref_path) as f:
                    commit = f.read().strip()
        else:
            commit = ref
    return {
        "nproc": _nproc(),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
        "engine_source_md5": h.hexdigest(),
    }


def _anchor_q1_s(spark, work: str) -> float:
    """Best-of-3 wall time of q_tpch_q1 over an sf0.1-sized lineitem that
    tools/gen_sf.py generates: the cross-host anchor."""
    from rag_pipelines_spark.queries.tpch import q_tpch_q1
    from tools.gen_sf import gen_lineitem

    sf_dir = os.path.join(work, "anchor")
    gen_lineitem(spark, 150_000, 20_000, 1_000).write.parquet(
        os.path.join(sf_dir, "lineitem.parquet"))
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        q_tpch_q1(spark, sf_dir).collect()
        times.append(time.perf_counter() - t0)
    return min(times)


def _streaming_metrics(progress: list) -> dict[str, float]:
    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) / 1000.0 for p in progress]
        return statistics.median(vals) if vals else 0.0

    return {
        "streaming.add_batch_s": med("addBatch"),
        "streaming.query_planning_s": med("queryPlanning"),
        "streaming.wal_commit_s": med("walCommit"),
        "streaming.latest_offset_s": med("latestOffset"),
        "streaming.trigger_s": med("triggerExecution"),
        "streaming.input_rows": float(sum(p.get("numInputRows", 0) for p in progress)),
    }


def _span_metrics(tracer) -> dict[str, float]:
    out = {
        "plans.pipelines.build_s": tracer.median("plans.pipelines.build"),
        "sources.jsonl.write_s": tracer.median("sources.jsonl.write"),
        "operators.state.lease_s": tracer.median("operators.state.lease"),
        "operators.state.commit_s": tracer.median("operators.state.commit"),
        "operators.state.commits": float(len(tracer.durations("operators.state.commit"))),
        "operators.state.live_version_dir_s": tracer.median(
            "operators.state.live_version_dir"),
    }
    for name in PER_LAYER:
        if name.startswith("operators.") and name.endswith(("merge_s", "read_s")):
            out[name] = tracer.median(name[:-2])
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool,
        root: str) -> dict:
    work_root = os.path.join(root, ".ragbench_work")
    work = os.path.join(work_root, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = _nproc()
    _pin_environment(root, work, cpus)

    from ragbench import workloads
    from ragbench.tracing import EventLog, Tracer, jvm_counters

    tracer = Tracer() if trace else None
    t0 = time.perf_counter()
    spark = _start_spark(work, trace)
    session_start_s = time.perf_counter() - t0
    try:
        w = workloads.WORKLOADS[workload](spark, work, seed, tiny)
        if tracer is not None:
            w.instrument(tracer)
        gen_times, data = [], None
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            data = w.generate()
            gen_times.append(time.perf_counter() - t0)
        w.build(data)
        t0 = time.perf_counter()
        w.warmup()
        warmup_s = time.perf_counter() - t0
        counters = jvm_counters(spark) if trace else {}

        sc = spark.sparkContext
        ops: list[tuple[float, float]] = []
        outs: list = []
        items = 0
        i = 0
        while True:
            w.prepare(i)
            if tracer is not None:
                tracer.op = i
                sc.setJobGroup(f"ragbench-op-{i}", f"{workload} op {i}")
            start = time.time()
            if i == 0:
                setup_s = (start - T_PROCESS) - (sum(gen_times) - statistics.median(gen_times))
            try:
                out = w.op(i)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                out = None
            end = time.time()
            ops.append((start, end))
            outs.append(out)
            items += w.items(out) if out is not None else 0
            i += 1
            if end - ops[0][0] >= seconds and w.may_stop_after(i - 1):
                break
        if tracer is not None:
            tracer.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
        peak_rss_mb = _peak_rss_mb()
        verdicts = w.check(outs)

        durations = [b - a for a, b in ops]
        end_to_end = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(durations),
            "items_per_s": items / sum(durations),
            "peak_rss_mb": peak_rss_mb,
        }
        layer: dict[str, float] = {}
        fingerprint = _fingerprint(root, spark)
        if trace:
            fingerprint["anchor_q_tpch_q1_sf0.1_s"] = _anchor_q1_s(spark, work)
            q = statistics.quantiles(durations, n=10) if len(durations) > 1 else durations * 9
            layer.update(counters)
            layer.update({
                "session.start_s": session_start_s,
                "session.warmup_s": warmup_s,
                "trace.ops": float(len(ops)),
                "trace.op_p50_s": end_to_end["op_p50_s"],
                "trace.op_p90_s": q[8],
            })
            layer.update(_span_metrics(tracer))
            layer.update(_streaming_metrics(getattr(w, "progress", [])))
            layer.update(w.layer)
            tracer.restore()
    finally:
        _stop_spark(spark)

    if trace:
        logs = glob.glob(os.path.join(work, "eventlog", "*"))
        if logs:
            layer.update(EventLog(logs[0]).summary(ops, cpus))
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER.items()}
    else:
        metrics = {name: {"value": float(end_to_end[name]), "unit": unit}
                   for name, unit in END_TO_END.items()}
    failed = sum(1 for v in verdicts if not v)
    result = {"correct": failed == 0, "attempted": len(verdicts), "failed": failed,
              "metrics": metrics}

    results_dir = os.path.join(work_root, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{workload}-seed{seed}-trace{int(trace)}")
    with open(stem + ".json", "w") as f:
        json.dump({"workload": workload, "seed": seed, "seconds": seconds, "tiny": tiny,
                   "fingerprint": fingerprint, "op_seconds": durations,
                   "end_to_end": end_to_end, "result": result}, f, indent=1)
    if tracer is not None:
        tracer.dump(stem + "-spans.json")
    print(json.dumps({"fingerprint": fingerprint}), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="small inputs, for the smoke check only")
    args = p.parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"ragbench: unknown workload {args.workload!r}; expected one of "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("ragbench: --seconds must be positive", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "rag_pipelines_spark")):
        print("ragbench: run from the repository root; the engine package "
              "rag_pipelines_spark is not in the current directory", file=sys.stderr)
        return 3
    # import the benchmark as a package from the root, not its own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny, root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
