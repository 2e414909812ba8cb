"""Benchmark entry point.

    python3 perfbench/run.py --workload hourly_ingest --seed 1 --seconds 20 --trace 0

runs one workload in a fresh Spark process on ``local[nproc]`` and prints,
as its last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, the per-layer ones with ``--trace 1``). Exit code 1 means
a correctness check failed. ``--workload all`` runs every workload
untraced and then traced, one child process each, and prints a table of
every metric, the host facts and the tracing overhead.

Tables, ``spark-warehouse``, ``derby.log``, Spark's local dirs and
checkpoints live in a work directory under ``.perfbench/`` that is
removed at exit; results and span files are kept in
``.perfbench/results/``.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path[0] == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT
else:
    sys.path.insert(0, ROOT)

from perfbench import envinfo, stats  # noqa: E402
from perfbench.workloads import SCALES, WORKLOADS, log  # noqa: E402

OUT = os.path.join(ROOT, ".perfbench")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def _metric_units(key: str) -> dict[str, str]:
    with open(BENCHMARK) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def _hermetic_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and make the program importable by Spark's Python workers."""
    for sub in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(envinfo.nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(work)


def _start_session(work: str, trace: bool):
    from endtoend_etl_openmeteo_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        # keep the JVM's temp files (and its /tmp/hsperfdata file) out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # statusTracker forgets jobs beyond the retained count; iterative
        # queries run hundreds per call
        conf.update({"spark.ui.retainedJobs": "20000", "spark.ui.retainedStages": "20000"})
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and the gateway JVM this process launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, work: str) -> dict:
    """Set up, run the closed loop for ``args.seconds`` and check."""
    scale = SCALES[args.scale]
    cpu0, load0 = envinfo.cpu_sample(), os.getloadavg()
    attempted = failed = 0
    errors: list[str] = []

    def check(fn) -> None:
        """One correctness check: an operation that fails when ``fn``
        reports a problem or raises."""
        nonlocal attempted, failed
        attempted += 1
        try:
            errs = fn()
        except Exception:
            errs = [traceback.format_exc(limit=6)]
        if errs:
            failed += 1
            errors.extend(errs)

    t0 = time.perf_counter()
    spark = _start_session(work, args.trace)
    session_s = time.perf_counter() - t0
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        rec = None
        if args.trace:
            from perfbench.spans import Recorder

            rec = Recorder(spark, envinfo.nproc(), jvm_pid)
            rec.spans.append({"id": 0, "parent": None, "request": None,
                              "name": "session.start", "start": t0, "end": t0 + session_s})
        wl = WORKLOADS[args.workload](spark, work, args.seed, scale)
        t = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t

        if hasattr(wl, "oracle_checks"):
            check(wl.oracle_checks)
        if rec is not None:
            wl.install_trace(rec)

        lat: list[float] = []
        cpu: list[float] = []
        i = 0
        deadline = time.perf_counter() + args.seconds
        loop_t0 = time.perf_counter()
        while True:
            item = wl.prepare(i)
            if rec is not None:
                rec.request = i
            attempted += 1
            c = envinfo.tree_cpu_s()
            t = time.perf_counter()
            try:
                wl.run(item)
                lat.append(time.perf_counter() - t)
                cpu.append(envinfo.tree_cpu_s() - c)
            except Exception:
                failed += 1
                errors.append(traceback.format_exc(limit=6))
                log(errors[-1])
            i += 1
            if time.perf_counter() >= deadline and wl.at_boundary(i):
                break
        loop_s = time.perf_counter() - loop_t0
        if rec is not None:
            rec.restore()
            rec.request = None

        check(wl.final_checks)
        stored_bytes, stored_rows = wl.stored()
        peak_mb = envinfo.vm_hwm_mb(jvm_pid) + envinfo.vm_hwm_mb()
        retained_mb = envinfo.retained_heap_mb(spark)
        layers = wl.layer_metrics(rec) if rec is not None else {}
        if rec is not None:
            check(lambda: [f"layer {name} has no samples: its entry point was not traced"
                           for name in wl.layers if not layers.get(name)])
            layers["session.start_s"] = [session_s]
            layers["session.peak_rss_mb"] = [peak_mb]
            rec.dump(os.path.join(OUT, "results", f"spans-{args.workload}-seed{args.seed}.json"))
        java = str(spark._jvm.java.lang.System.getProperty("java.version"))
    finally:
        _stop_session(spark)

    import pyspark

    tail_v, tail_pct, n = stats.tail(lat)
    ops = len(lat)
    e2e = {
        "setup_s": setup_s,
        "cpu_s_per_op": sum(cpu) / len(cpu) if cpu else 0.0,
        "p50_s": stats.median(lat),
        "tail_s": tail_v,
        "ops_per_s": ops / sum(lat) if lat else 0.0,
        "retained_heap_mb": retained_mb,
        "stored_bytes_per_row": stored_bytes / stored_rows if stored_rows else 0.0,
    }
    rows_per_op = wl.rows_per_op() if hasattr(wl, "rows_per_op") else None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(args.trace),
        "unit": wl.unit,
        "units": wl.units,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "errors": errors[:20],
        "e2e": e2e,
        "layers": {k: stats.median(v) for k, v in layers.items()},
        "detail": {
            "setup_parts_s": wl.setup_parts,
            "session_start_s": session_s,
            "tail_percentile": tail_pct,
            "samples": n,
            "loop_s": loop_s,
            "latencies_s": lat,
            "cpu_s": cpu,
            "peak_rss_mb": peak_mb,
            "failed_ratio": failed / attempted,
            "rows_per_s": rows_per_op * ops / sum(lat) if rows_per_op and lat else None,
        },
        "env": {
            "nproc": envinfo.nproc(),
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "steal_pct": envinfo.steal_pct(cpu0, envinfo.cpu_sample()),
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg(),
            "pyspark": pyspark.__version__,
            "java": java,
        },
    }


def emit(result: dict) -> dict:
    """The contract's last-line object: every end-to-end metric untraced,
    every per-layer metric traced (0 for a layer of another workload; a
    layer of this workload without samples has already failed a check)."""
    if result["trace"]:
        units = _metric_units("per_layer")
        values = {name: result["layers"].get(name, 0.0) for name in units}
    else:
        units = _metric_units("end_to_end")
        values = result["e2e"]
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def _result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(OUT, "results", f"{workload}-seed{seed}-trace{trace}.json")


def overhead(traced: dict) -> dict[str, float] | None:
    """Traced minus untraced end-to-end metrics of the same workload and
    seed, when the untraced result is on disk."""
    path = _result_path(traced["workload"], traced["seed"], 0)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        plain = json.load(f)
    return {k: traced["e2e"][k] - plain["e2e"][k] for k in traced["e2e"]}


def report(result: dict) -> None:
    """Human-readable lines ahead of the JSON line."""
    w, unit = result["workload"], result["unit"]
    d, e = result["detail"], result["e2e"]
    print(f"# {w} seed={result['seed']} trace={result['trace']}: {d['samples']} "
          f"{result['units']} in {d['loop_s']:.1f} s, tail = p{d['tail_percentile']:.1f}")
    names = {"p50_s": f"{unit}_p50_s", "tail_s": f"{unit}_tail_s", "ops_per_s": f"{result['units']}_per_s",
             "cpu_s_per_op": f"cpu_s_per_{unit}"}
    # the latency figures are printed beside the gated metrics
    units = {"p50_s": "s", "tail_s": "s", "ops_per_s": "1/s", **_metric_units("end_to_end")}
    for k, v in e.items():
        print(f"#   {names.get(k, k):<24} {v:12.4f} {units.get(k, '')}")
    print(f"#   {'peak_rss_mb':<24} {d['peak_rss_mb']:12.1f} MB (driver JVM + Python VmHWM)")
    print(f"#   {'failed_ratio':<24} {d['failed_ratio']:12.4f} failed/attempted")
    if d["rows_per_s"] is not None:
        print(f"#   {'rows_per_s':<24} {d['rows_per_s']:12.1f} rows/s")
    print(f"#   setup: session start {d['session_start_s']:.2f} s, "
          + ", ".join(f"{k} {v:.2f} s" for k, v in d["setup_parts_s"].items() if " " not in k))
    print("#   env " + json.dumps(result["env"]))
    for k, v in sorted(result["layers"].items()):
        print(f"#   layer {k:<44} {v:12.5f}")
    if result["trace"]:
        oh = overhead(result)
        if oh is not None:
            print("#   tracing overhead (traced - untraced): "
                  + ", ".join(f"{k} {v:+.4f}" for k, v in oh.items()))
    for err in result["errors"]:
        print("#   CHECK FAILED: " + err.strip().replace("\n", "\n#     "))


def run_one(args) -> int:
    if not os.path.exists(BENCHMARK):
        print("BENCHMARK.json not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _hermetic_env(work)
        result = measure(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(_result_path(args.workload, args.seed, 0)), exist_ok=True)
    with open(_result_path(args.workload, args.seed, int(args.trace)), "w") as f:
        json.dump(result, f, indent=1)
    report(result)
    print(json.dumps(emit(result)), flush=True)
    return 0 if result["correct"] else 1


def run_all(args) -> int:
    """Every workload untraced then traced, one child process each."""
    status = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--scale", args.scale]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            sys.stdout.write("".join(l + "\n" for l in proc.stdout.splitlines() if l.startswith("#")))
            status = status or proc.returncode
    return status


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
