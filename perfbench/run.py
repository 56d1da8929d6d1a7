#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload mr_text --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One run:

1. builds the shared inputs once per checkout (seeded star-schema tables
   and their DuckDB oracle hashes, under ``.perfbench_work/``), and again
   whenever the generator, the canonical result form or an oracle query
   changes;
2. starts a fresh measured process (``worker.py``) on a
   ``local[N]`` session, N = min(4, nproc), with the driver memory
   stated explicitly;
3. prints one JSON line with the environment (nproc, RAM, Spark, Java
   and Python versions, seed), one with the per-operation records, and
   as the last line the result: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``.  Units come
   from ``BENCHMARK.json``.

With ``--trace 1`` the Spark event log is switched on from outside,
through ``PYSPARK_SUBMIT_ARGS`` (uncompressed, non-rolling, with block
updates), and parsed by ``eventlog.py``.  A traced run first makes an
untraced run of the same workload and seed in a fresh process; the
tracing overhead is the traced ``wall_s`` minus that run's ``wall_s``.

Exits non-zero without a result when the engine package is missing or
the measured process fails.
"""

from __future__ import annotations

import argparse
import fcntl
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

WORK = os.path.join(ROOT, ".perfbench_work")
STAR_SF, STAR_SEED = 0.1, 42
DATA_DIR = os.path.join(WORK, f"star_sf{STAR_SF}_seed{STAR_SEED}")
# Nominal seconds of one pass: a run makes max(1, round(--seconds /
# PASS_S)) passes, so the pass count is fixed by the run length and
# never by how fast a pass happened to be.
PASS_S = 20.0
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
RUN_LIMIT_S = 170.0

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def inputs_stamp(names: list[str]) -> str:
    """Hash of everything the built inputs and expected answers depend
    on: the generator, the canonical result form, the oracle SQL of
    every registry operation, and the scale factor and seed."""
    from p6__mapreduce_spark.queries import get_oracle_sql

    sqls = get_oracle_sql(DATA_DIR)
    h = hashlib.sha256(json.dumps([STAR_SF, STAR_SEED, {n: sqls.get(n) for n in names}], sort_keys=True).encode())
    for path in (os.path.join(HERE, "datagen.py"), os.path.join(ROOT, "tools", "oracle_check.py")):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_star_data() -> None:
    """Build the registry workloads' inputs and expected answers, unless
    the ones on disk were built from the same sources."""
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        import workloads

        names = sorted(n for ws in workloads.REGISTRY.values() for n in ws)
        stamp = inputs_stamp(names)
        try:
            with open(os.path.join(DATA_DIR, "expected.json")) as fh:
                if json.load(fh)["stamp"] == stamp:
                    return
        except (FileNotFoundError, KeyError, ValueError):
            pass
        import datagen

        tmp = DATA_DIR + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        datagen.write_star(tmp, STAR_SF, STAR_SEED)
        expected = {"stamp": stamp, "expected": workloads.oracle_expected(tmp, names)}
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
        shutil.rmtree(DATA_DIR, ignore_errors=True)
        os.replace(tmp, DATA_DIR)
        log(f"built inputs in {time.time() - t0:.1f}s")


def worker_env(run_dir: str, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed young generation: with G1 sizing it adaptively, the driver
    # JVM's peak RSS swung between 990 and 1500 MB on identical mr_text
    # runs; with -Xmn256m it stays within a few percent, and the old
    # generation still grows with what the program keeps alive.
    submit = ["--driver-java-options", f"\"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn256m\""]
    if trace:
        ev_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{ev_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.logBlockUpdates.enabled=true",
        ]
    env.update({
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        # the JVM that spark-submit starts to build the driver command
        # would otherwise write its perf data file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # Python workers forked by the JVM import engine modules by name
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "PYTHONHASHSEED": "0",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    pids.append(int(name))
            except OSError:
                pass
    return pids


def spawn(args: list[str], env: dict, cwd: str, deadline: float) -> int:
    """Run a worker in its own process group; when it exits, times out,
    or this process is terminated, stop whatever it left behind and wait
    for it."""
    env = dict(env, PERFBENCH_T_SPAWN=repr(time.time()))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        env=env, cwd=cwd, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
    )
    err = b""
    try:
        _, err = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("worker timed out")
    finally:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            for _ in range(50):
                if not _group_pids(proc.pid):
                    break
                time.sleep(0.1)
        proc.wait()
    if proc.returncode != 0:
        tail = [ln for ln in err.decode(errors="replace").splitlines() if "WARN" not in ln]
        log("\n".join(tail[-20:]))
    return proc.returncode


def environment(seed: int) -> dict:
    import pyspark

    try:
        java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30).stderr
        java = java.splitlines()[0] if java else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        java = "unknown"
    with open("/proc/meminfo") as fh:
        ram_kb = int(fh.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "cpus_used": CPUS,
        "ram_gb": round(ram_kb / 1024 / 1024, 1),
        "driver_mem": DRIVER_MEM,
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "seed": seed,
    }


def end_to_end(res: dict) -> dict:
    recs = res["records"]
    return {
        "setup_s": res["setup_s"],
        "wall_s": sum(res["pass_walls"]),
        "query_p50_s": statistics.median(r["latency_s"] for r in recs),
        "peak_rss_mb": sum(res["peak_rss_mb"].values()),
        "ok_frac": sum(r["ok"] for r in recs) / len(recs),
    }


def per_layer(res: dict, run_dir: str, untraced_wall: float) -> dict:
    import eventlog

    passes = len(res["pass_walls"])
    recs = res["records"]
    logs = glob.glob(os.path.join(run_dir, "eventlog", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    m = eventlog.parse(eventlog.read_events(logs[0]), res["phases"], tuple(res["window_ms"]), passes)
    m.update(eventlog.streaming_metrics(res.get("progress", []), tuple(res["window_ms"]), passes))
    wall = sum(res["pass_walls"])
    m.update({
        "session.start_s": res["session_start_s"],
        "queries.construct_s": sum(r["construct_s"] for r in recs) / passes,
        "action.s": sum(r["action_s"] for r in recs) / passes,
        "python.worker_cpu_s": res["python_worker_cpu_s"] / passes,
        "jvm.cpu_s": res["jvm_cpu_s"] / passes,
        "trace.wall_s": wall,
        "trace.overhead_s": wall - untraced_wall,
    })
    return {spec["name"]: m[spec["name"]] for spec in _SPEC["per_layer"]}


def measured_run(a, trace: bool, out_dir: str, deadline: float) -> dict:
    run_dir = os.path.join(out_dir, "trace" if trace else "plain")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    wargs = [
        "--workload", a.workload, "--seed", str(a.seed),
        "--passes", str(max(1, round(a.seconds / PASS_S))),
        "--trace", str(int(trace)), "--work-dir", run_dir, "--data-dir", DATA_DIR, "--out", out,
    ]
    if spawn(wargs, worker_env(run_dir, trace), run_dir, deadline) != 0:
        raise RuntimeError("measured process failed")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    # turn SIGTERM into SystemExit so the finally blocks stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "p6__mapreduce_spark", "session.py")):
        log("engine package p6__mapreduce_spark not found next to perfbench/")
        return 2
    import workloads

    if a.workload not in workloads.WORKLOADS:
        log(f"unknown workload {a.workload!r}; choose from {workloads.WORKLOADS}")
        return 2
    if a.workload in workloads.REGISTRY:
        ensure_star_data()

    out_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        res = measured_run(a, False, out_dir, deadline)
        checked = res["records"]
        if a.trace:
            untraced_wall = sum(res["pass_walls"])
            res = measured_run(a, True, out_dir, deadline)
            checked = checked + res["records"]
            metrics = per_layer(res, os.path.join(out_dir, "trace"), untraced_wall)
        else:
            metrics = end_to_end(res)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    # a traced run answers for the results of both of its processes
    recs = res["records"]
    failed = sum(not r["ok"] for r in checked)
    print(json.dumps({"env": environment(a.seed), "workload": a.workload, "trace": a.trace}))
    print(json.dumps({"ops": recs, "pass_walls": res["pass_walls"], "peak_rss_mb": res["peak_rss_mb"]}))
    if a.trace:
        import layers

        print(json.dumps({"moves": {k: {"metric": m, "workloads": w} for k, (m, w) in layers.MOVES.items()}}))
    for r in checked:
        if not r["ok"]:
            log(f"FAILED {r['op']} (pass {r['pass']}): {r['reason']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
