"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload serve_push --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it is a report with sample counts, the session sizing and
the workload's own end-to-end numbers. Everything the run writes lives
in a private directory under ``.perfbench_tmp/`` that is deleted at exit;
a traced run also leaves its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
}
_INGEST = [
    "sources.read_s", "sources.read_jobs", "sources.bytes_in",
    "rules.match_s", "rules.apply_s", "rules.validate_s", "rules.validate_jobs",
    "schema.strip_s", "schema.strip_jobs", "schema.merge_s", "schema.fields_added",
    "sinks.ensure_table_s", "sinks.lock_wait_s", "sinks.append_s", "sinks.append_jobs",
    "sinks.files_written", "sinks.bytes_written", "sinks.read_table_s",
    "pipeline.load_s", "pipeline.self_s", "pipeline.dests", "pipeline.jobs",
]
_STREAMING = [
    "streaming.handle_s", "streaming.queue_wait_s", "streaming.state_acquire_s",
    "streaming.state_update_s", "streaming.inflight_max", "streaming.retry_acks",
    "streaming.dup_skip_ratio", "streaming.gen_late_s",
]
_SPARK = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.busy_ratio",
    "spark.shuffle_bytes", "spark.spill_bytes", "spark.gc_s",
]
_TRACE = ["mem.peak_rss_mb", "trace.overhead_s", "trace.overhead_ratio"]


def per_layer_names() -> list[str]:
    from workloads import OPS_QUERIES

    ops = [
        f"ops.{q}.{k}"
        for qs in OPS_QUERIES.values() for q in qs
        for k in ("build_s", "exec_s", "jobs", "cache_left")
    ]
    return _INGEST + _STREAMING + ops + _SPARK + _TRACE


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_in") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


# -------------------------------------------------------------- run context
class Ctx:
    def __init__(self, args, run_dir: str, cores: int):
        self.seconds = args.seconds
        self.rng = random.Random(f"{args.workload}:{args.seed}")
        self.run_dir = run_dir
        self.cores = cores
        self.closers: list = []
        self.spark = None


def host_sizing() -> tuple[int, str]:
    """Cores this process may use, and a driver heap that leaves most of
    the host's memory to everything else (a quarter, 1-2 GB)."""
    cores = len(os.sched_getaffinity(0))
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    gb = max(1, min(2, kb // (4 << 20)))
    return cores, f"{gb}g"


def start_spark(workload: str, run_dir: str, cores: int, mem: str):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    # registry builders keep their stored fixtures and mkdtemp dirs under
    # tempfile.gettempdir(): point it into the private run dir
    tempfile.tempdir = tmp
    from swarm_spark.session import get_spark

    return get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """Stolen and total CPU ticks of the host so far (``/proc/stat``)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return v[7], sum(v)


def tree_state() -> list:
    """What a run must leave untouched: ``git status --porcelain`` in a
    git checkout, else every file's size and mtime (outputs and caches
    excluded)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(
            ["git", "status", "--porcelain", "--ignored=no"],
            cwd=ROOT, capture_output=True, text=True, timeout=60, check=True,
        ).stdout
        return sorted(line for line in out.splitlines() if line)
    skip = {".perfbench_tmp", ".perfbench_out", "__pycache__", ".git"}
    state = []
    for dp, dns, fns in os.walk(ROOT):
        dns[:] = [d for d in dns if d not in skip]
        for fn in fns:
            st = os.stat(os.path.join(dp, fn))
            state.append((os.path.relpath(os.path.join(dp, fn), ROOT), st.st_size, st.st_mtime_ns))
    return sorted(state)


# -------------------------------------------------------------------- main
def measure(ctx, wl, trace: bool) -> tuple[object, dict]:
    """Run the window(s). A traced run measures its traced window first,
    then an untraced one to measure the tracing overhead against."""
    import spans

    traced = {}
    if trace:
        sc = ctx.spark.sparkContext
        tracer = spans.Tracer(sc).install()
        try:
            j0 = spans.last_job_id(sc)
            t0 = time.perf_counter()
            window = wl.window(ctx, ctx.seconds, tracer)
            wall = time.perf_counter() - t0
        finally:
            tracer.uninstall()
        digest = spans.spark_digest(sc, j0, wall, ctx.cores)
        traced = {"window": window, "digest": digest, "tracer": tracer}
    steal0 = cpu_ticks()
    plain = wl.window(ctx, ctx.seconds)
    steal1 = cpu_ticks()
    plain.report["host_steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    return plain, traced


def layer_metrics(traced: dict, plain) -> dict:
    from workloads import ingest_layers

    w, digest, tracer = traced["window"], traced["digest"], traced["tracer"]
    n = w.ops
    out = {name: 0.0 for name in per_layer_names()}
    out.update(ingest_layers(tracer, digest["jobs_by_path"], n))
    out["sinks.read_table_s"] = tracer.total("sinks.read_table")
    out.update({k: v for k, v in w.layers.items() if k in out})
    for k in ("jobs", "stages", "tasks", "task_s", "shuffle_bytes", "spill_bytes", "gc_s"):
        out[f"spark.{k}"] = digest[k] / n
    out["spark.busy_ratio"] = digest["busy_ratio"]
    # against the untraced window after it: the JVM is no colder then, so
    # warm-up can only add to the overhead, never hide it
    p_traced = statistics.median(w.op_s)
    p_plain = statistics.median(plain.op_s)
    out["trace.overhead_s"] = p_traced - p_plain
    out["trace.overhead_ratio"] = (p_traced - p_plain) / p_plain
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "swarm_spark", "session.py")):
        print(f"perfbench: no swarm_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    tree_before = tree_state()
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    cores, mem = host_sizing()
    ctx = Ctx(args, run_dir, cores)
    try:
        ctx.spark = start_spark(args.workload, run_dir, cores, mem)
        session_s = time.perf_counter() - T_START
        try:
            wl = WORKLOADS[args.workload]()
            wl.setup(ctx)
            setup_s = time.perf_counter() - T_START
            plain, traced = measure(ctx, wl, bool(args.trace))
            errors = wl.check(ctx)
            rss = peak_rss_mb(ctx.spark)
        finally:
            for close in reversed(ctx.closers):
                close()
            stop_spark(ctx.spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if tree_state() != tree_before:
        errors.append("the run changed files of the checkout")

    last = traced["window"] if traced else plain
    attempted = last.ops
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(plain.op_s),
        "rows_per_s": plain.rows / plain.busy_s,
    }
    from workloads import tail

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "session": {"master": f"local[{cores}]", "SPARK_GRAFT_CPUS": cores,
                    "SPARK_GRAFT_DRIVER_MEM": mem},
        "session_start_s": session_s,
        "samples": len(plain.op_s),
        "op_s": plain.op_s,
        "peak_rss_mb": rss,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "op_tail_s": tail(plain.op_s),
        "workload_metrics": plain.report,
        # failed operations: first-delivery acks other than 200 (serve)
        "fail_ratio": plain.report.get("serve.first_non200", plain.failed) / plain.ops,
        "errors": errors,
    }
    if traced:
        layers = layer_metrics(traced, plain)
        report["op_p50_s_by_window"] = {
            "traced": statistics.median(traced["window"].op_s),
            "untraced_after": statistics.median(plain.op_s),
        }
        layers["mem.peak_rss_mb"] = rss
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        os.makedirs(OUT_DIR, exist_ok=True)
        out = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-spans.json")
        with open(out, "w") as f:
            json.dump({"report": report, "spans": traced["tracer"].dump(),
                       "jobs_by_span": traced["digest"]["jobs_by_path"]}, f)
        report["spans_file"] = os.path.relpath(out, ROOT)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": last.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
