"""Benchmark of record for the engine: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed under a private scratch directory inside the checkout, drives the
engine's public functions, checks the outputs against DuckDB oracles
outside the timed window, deletes the scratch directory, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics). Earlier stdout lines carry the
workload's own metric names with sample counts, the checks, and (traced)
the span table. Exits 1 when a check fails, 2 when the engine is absent.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from common import Bench, descendants
from tracing import Tracer, engine_by_layer


def _process_start() -> float:
    """Epoch seconds at which this process started: now minus its age,
    the boot-time clock less the start tick count in /proc/self/stat."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


PROCESS_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = {"medallion_batch": "medallion", "corpus_dedup": "dedup"}  # name -> module
DRIVER_MEM = "2g"  # the engine default (48g) does not fit a 15 GB box


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _environment(tmp: str) -> int:
    """Run hygiene: pinned parallelism, driver memory that fits, and every
    scratch path (Spark local dirs, temp files) under the run's root;
    ``-XX:-UsePerfData`` keeps both JVMs from writing /tmp/hsperfdata_*."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        os.makedirs(f"{tmp}/{d}", exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=f"{tmp}/local",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no hsperfdata file in /tmp
        TMPDIR=f"{tmp}/tmp",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    return cpus


def _session(tmp: str, trace: bool):
    from gcp_etl_pipeline_spark.session import get_session

    conf = {
        "spark.sql.warehouse.dir": f"{tmp}/spark-warehouse",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={tmp}/derby -Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{tmp}/events", exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{tmp}/events"
        conf["spark.eventLog.compress"] = "false"
    return get_session(extra_conf=conf)


def _jvm_peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def _stop(spark) -> None:
    """Stop Spark, end the JVM child and wait until it and every process
    it started (the Python worker daemon) have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    children = descendants(proc.pid)[1:]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(CHECKOUT, "gcp_etl_pipeline_spark", "__init__.py")):
        print(f"engine package not found under {CHECKOUT}", file=sys.stderr)
        return 2
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, CHECKOUT)
    runs = os.path.join(CHECKOUT, ".perfbench_tmp")
    _remove_stale(runs)
    tmp = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        cpus = _environment(tmp)
        return _run(args, spec, tmp, cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def _remove_stale(runs: str) -> None:
    """Delete scratch left by earlier runs that were killed: every
    ``<workload>-<pid>`` directory whose process no longer exists."""
    for name in os.listdir(runs) if os.path.isdir(runs) else ():
        pid = name.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def _run(args, spec: dict, tmp: str, cpus: int) -> int:
    module = importlib.import_module(WORKLOADS[args.workload])
    t0 = time.time()
    spark = _session(tmp, bool(args.trace))
    get_session_s = time.time() - t0
    tracer = Tracer(spark) if args.trace else None
    bench = Bench(spark, tmp, args.seed, args.seconds, tracer)
    proc = spark.sparkContext._gateway.proc
    try:
        res = module.run(bench)
        peak_rss = _jvm_peak_rss_mb(proc)
    finally:
        if tracer is not None:
            tracer.restore()
        _stop(spark)

    e2e = {
        "setup_s": bench.first_timed - PROCESS_START - bench.setup_gen_s,
        "peak_rss_mb": peak_rss,
    }
    e2e.update(res.end_to_end())
    correct = all(ok for ok, _ in res.checks.values())
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cpus": cpus,
                      "detail": res.detail}))
    print(json.dumps({"checks": {k: {"ok": ok, "detail": d} for k, (ok, d) in res.checks.items()}}))

    if args.trace:
        layer = _per_layer(tracer, res, e2e, engine_by_layer(f"{tmp}/events", tracer))
        layer["session.get_session_s"] = get_session_s
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        print(json.dumps({"spans": _span_table(tracer)}))
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


def _per_layer(tracer, res, e2e: dict, engine: dict) -> dict:
    out = {f"{name}_s": v for name, v in tracer.totals().items()}
    out.update(tracer.counters)
    out.update(res.layer)
    out.update(engine)
    for layer, v in tracer.layer_self_s().items():
        out[f"{layer}.self_s"] = v
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s
    out["trace.spans"] = len(tracer.spans)
    out.update({f"traced.{k}": v for k, v in e2e.items()})
    return out


def _span_table(tracer) -> dict:
    """Per span name: calls, total and self seconds."""
    selfs = tracer.self_intervals()
    table: dict[str, dict] = {}
    for s in tracer.spans:
        if s["end"] is None:
            continue
        row = table.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += sum(b - a for a, b in selfs[s["id"]])
    return {k: {kk: round(vv, 4) for kk, vv in v.items()} for k, v in sorted(table.items())}


if __name__ == "__main__":
    sys.exit(main())
