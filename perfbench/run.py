"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_full --seed 1 --seconds 15 --trace 0

Runs one workload in a closed loop with one client: a single Python
process calls the package (``run_pipeline`` or a list of registry queries),
waits for it, checks the outputs, and starts the next repetition. The
first repetition of the fresh session is the cold one; the following ones
are warm and run until ``--seconds`` have passed (at least MIN_WARM).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). A human-readable summary goes to
stderr; the full result, the host fingerprint and (traced) the spans go to
``.bench_build/perfbench/`` in the directory the command runs from. The
exit code is 0 only when every output check passed.

Inputs are generated from ``--seed`` under ``.bench_build/perfbench/``;
Spark scratch space, the warehouse and temp files stay there too.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_full", "ingest_incremental", "registry_doc")
SETUPS = 3       # session set-ups per run; setup_s is their median
MIN_WARM = 3     # warm repetitions measured even when --seconds is short
TRACED_REPS = 2  # traced repetitions in a --trace 1 run
PACKAGE = "prefect_flow_arc_alto_to_json_spark"


def host_env(work: str) -> dict:
    """Session sizing from this host (``session.py`` would otherwise
    default to local[32] and a 16 GB heap) and scratch dirs inside the
    working directory."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        # an eighth of RAM, at most 2 GB: the corpus is tens of MB and the
        # host's memory is shared
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, mem_kb // 1024 // 8)}m",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the JVM spark-submit starts to build the driver command line
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, **env}


def _source_sha() -> str:
    """Digest of the package's source files (identifies the code also
    where the checkout is not a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def fingerprint(env: dict, args, spark) -> dict:
    """``host`` must match for two results to be compared; ``code`` is
    what an A/B comparison varies."""
    import pyspark

    return {
        "host": {
            "nproc": env["nproc"], "mem_total_mb": env["mem_total_mb"],
            "spark": pyspark.__version__, "python": platform.python_version(),
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        },
        "code": {"git_sha": _git_sha(), "source_sha": _source_sha()},
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
    }


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), a sign of
    host noise in a run."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))


def start_session(work: str):
    from prefect_flow_arc_alto_to_json_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    # a fixed-size heap (-Xms = the -Xmx session.py sets) makes the JVM's
    # resident size depend on the work done, not on when G1 chose to grow
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
        },
    )


def measure_setups(work: str) -> tuple[object, list[float]]:
    """Set the session up SETUPS times (the first also launches the JVM),
    each timed from ``get_spark`` until a trivial job returns."""
    spark, times = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        spark.range(1).count()
        times.append(time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM gateway process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def repetition(spark, wl, out: dict, span=None) -> tuple[float, str]:
    """reset (untimed) -> run (timed, inside ``span`` when tracing) ->
    check (untimed). Returns the run's wall time and the sink digest."""
    wl.reset()
    timings: dict = {}
    t0 = time.perf_counter()
    if span is None:
        result = wl.run(spark, timings)
    else:
        with span:
            result = wl.run(spark, timings)
    dt = time.perf_counter() - t0
    attempted, failed, digest, problems = wl.check(result)
    out["attempted"] += attempted
    out["failed"] += failed
    out["problems"] += problems
    out.setdefault("reps", []).append({"s": dt, "timings": timings, "traced": span is not None})
    return dt, digest


def run_loop(spark, wl, seconds: float, out: dict) -> None:
    """Cold repetition, then warm ones for ``seconds`` (at least MIN_WARM).
    Every repetition's sink state must match the generator's expected
    values and the first repetition's state digest."""
    _, first_digest = repetition(spark, wl, out)
    warm_start, warm = time.perf_counter(), 0
    while warm < MIN_WARM or time.perf_counter() - warm_start < seconds:
        _, digest = repetition(spark, wl, out)
        warm += 1
        if digest != first_digest:
            out["problems"].append("sink state differs from the first repetition")
            out["failed"] += 1


def end_to_end(wl, reps: list[dict], setups: list[float], jvm_pid: int) -> dict:
    run_s = statistics.median(r["s"] for r in reps[1:])
    rss_kb = _hwm_kb(os.getpid()) + _hwm_kb(jvm_pid)
    return {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "run_s": {"value": run_s, "unit": "s"},
        "cold_run_s": {"value": reps[0]["s"], "unit": "s"},
        "docs_per_s": {"value": wl.items / run_s, "unit": "1/s"},
        "mb_per_s": {"value": wl.input_mb / run_s, "unit": "MB/s"},
        "peak_rss_mb": {"value": rss_kb / 1024, "unit": "MB"},
    }


def traced(spark, wl, setups: list[float], nproc: int, out: dict) -> dict:
    """Traced repetitions (spans + Spark counters) and the layer profile."""
    import bench
    from spans import Tracer

    tracer = Tracer(spark, run_id=f"{wl.name}-{os.getpid()}")
    meter = bench._ShuffleMeter(spark)
    # untraced and traced repetitions alternate, so both are equally warm
    plain, durations = [], []
    for i in range(TRACED_REPS):
        plain.append(repetition(spark, wl, out)[0])
        meter.mark()
        span = tracer.span("pipeline.run", repeat=i)
        durations.append(repetition(spark, wl, out, span)[0])
        counters = tracer.counters(tracer.spans[-1])  # the run opens no child span
        shuffle = (meter.delta() or {}).get("write_bytes", 0)
    run_s, traced_s = statistics.median(plain), statistics.median(durations)
    if wl.name == "registry_doc":
        layers = wl.profile(spark, tracer, out["reps"][0]["timings"])
    else:
        layers = wl.profile(spark, tracer)
    per_layer = {
        "session.start_s": (statistics.median(setups), "s"),
        "pipeline.jobs": (counters["jobs"], "count"),
        "pipeline.stages": (counters["stages"], "count"),
        "pipeline.tasks": (counters["tasks"], "count"),
        "pipeline.overhead_s": (run_s - wl.layer_self_s, "s"),
        "trace.overhead_s": (traced_s - run_s, "s"),
        "spark.executor_run_s": (counters["executor_run_s"], "s"),
        "spark.executor_cpu_s": (counters["executor_cpu_s"], "s"),
        "spark.gc_s": (counters["gc_s"], "s"),
        "spark.shuffle_write_bytes": (shuffle, "bytes"),
        "spark.spill_bytes": (counters["spill_bytes"], "bytes"),
        "spark.core_util": (counters["executor_run_s"] / (traced_s * nproc), "ratio"),
        "spark.task_max_over_median": (counters["task_max_over_median"], "ratio"),
    }
    out["layers"] = {**layers, "session.first_start_s": setups[0],
                     "traced_run_s": traced_s, "run_s": run_s,
                     "layer_self_s": wl.layer_self_s}
    out["spans"] = tracer.spans
    return {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}


def selftest(spark, wl) -> int:
    """Two back-to-back repetitions with the reset leave identical sink
    state; a third without the reset shows why the reset is needed."""
    digests = []
    for _ in range(2):
        wl.reset()
        digests.append(wl.check(wl.run(spark, {}))[2])
    third = wl.check(wl.run(spark, {}))[2]
    same = digests[0] == digests[1]
    print(f"selftest {wl.name}: reset repetitions identical={same}; "
          f"repetition without reset differs={third != digests[0]}", file=sys.stderr)
    return 0 if same else 1


def _summary(res: dict) -> None:
    w = sys.stderr.write
    w(f"\n== {res['fingerprint']['workload']} seed={res['fingerprint']['seed']} "
      f"reps={len(res.get('reps', []))} attempted={res['attempted']} failed={res['failed']} "
      f"ops_failed_frac={res['ops_failed_frac']:.4f} inputs_s={res['inputs_s']:.2f}\n")
    for k, v in res["metrics"].items():
        w(f"  {k:34s} {v['value']:14.4f} {v['unit']}\n")
    for k, v in sorted(res.get("layers", {}).items()):
        w(f"  layer {k:50s} {v:14.4f}\n")
    for p in res["problems"][:10]:
        w(f"  CHECK FAILED: {p}\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that repetitions leave identical sink state, then exit")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    env = host_env(work)
    sys.path[:0] = [ROOT, HERE]
    import workloads

    wl = workloads.make(args.workload, os.path.join(work, "inputs"), args.seed, env["nproc"])
    t0 = time.perf_counter()
    wl.prepare()
    inputs_s = time.perf_counter() - t0

    steal0 = _steal_s()
    spark, setups = measure_setups(work)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    res = {"fingerprint": fingerprint(env, args, spark), "inputs_s": inputs_s,
           "setups_s": setups, "attempted": 0, "failed": 0, "problems": []}
    try:
        if args.selftest:
            return selftest(spark, wl)
        run_loop(spark, wl, args.seconds, res)
        if args.workload == "registry_doc":
            t0 = time.perf_counter()
            attempted, failed, problems = wl.check_oracles()
            res["oracle_check_s"] = {"total": time.perf_counter() - t0, **wl.check_s}
            res["attempted"] += attempted
            res["failed"] += failed
            res["problems"] += problems
        e2e = end_to_end(wl, res["reps"], setups, jvm_pid)
        res["end_to_end"] = e2e
        res["metrics"] = e2e
        if args.trace:
            res["metrics"] = traced(spark, wl, setups, env["nproc"], res)
    except Exception:  # noqa: BLE001 — a raising program is a failed run
        res["problems"].append(traceback.format_exc())
        res["failed"] = max(res["failed"], 1)
        res["attempted"] = max(res["attempted"], res["failed"])
        res.setdefault("metrics", {})
    finally:
        stop_session(spark)

    res["ops_failed_frac"] = res["failed"] / max(res["attempted"], 1)
    res["wall_s"] = time.perf_counter() - T_START
    res["steal_s"] = _steal_s() - steal0
    correct = res["failed"] == 0 and not res["problems"]
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-trace{args.trace}.json"
    with open(os.path.join(work, "results", name), "w", encoding="utf-8") as f:
        json.dump({k: v for k, v in res.items() if k != "spans"}, f, indent=1, default=str)
    if args.trace and "spans" in res:
        with open(os.path.join(work, "results", f"spans-{name}"), "w", encoding="utf-8") as f:
            json.dump(res["spans"], f)
    _summary(res)
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
