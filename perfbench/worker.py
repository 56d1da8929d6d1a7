"""The measured process of one benchmark run.

Started fresh by ``run.py`` for every run, so module-level memo state in
the engine starts empty and the JVM is new.  It

1. sets up: imports the package, builds the session with
   ``session.get_session`` and runs one warm-up action (``setup_s`` is
   counted from the moment ``run.py`` spawned this process);
2. runs ``--passes`` passes over the workload's operations, back to
   back, in the workload's fixed order.  The first pass in a fresh
   JVM runs about twice as slow as the next (JIT, codegen, class
   loading); that is what a user of a fresh client process pays, so it
   is measured, and a second pass adds the warm cost;
3. writes a JSON record of every phase interval, per-operation latency
   and check result, and the process-level counters read from ``/proc``.

Each operation runs under the job group ``pb|<pass>|<op>|<phase>`` with
phase ``construct`` (building the DataFrame) or ``action``
(``toPandas()``).  After the action the engine's query memos are dropped
and ``spark.catalog.clearCache()`` is called, so every operation pays
for its own pins and a memo hit is never timed.  With ``--trace 1`` a
one-task marker job under ``pb|<pass>|<op>|end`` lets the event-log
parser read the bytes still cached when the operation ended, and a
``StreamingQueryListener`` records micro-batch progress.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_SPAWN = float(os.environ.get("PERFBENCH_T_SPAWN", time.time()))
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def cpu_s(pid: int, children: bool = False) -> float:
    """utime+stime (plus reaped children's) of a process, in seconds."""
    f = _stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12]) + ((int(f[13]) + int(f[14])) if children else 0)
    return ticks / _TICK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def child_pids(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None and int(f[1]) == pid:
                out.append(int(name))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def jvm_pid() -> int | None:
    for pid in child_pids(os.getpid()):
        if _comm(pid) == "java":
            return pid
    return None


def python_worker_cpu_s(jvm: int | None) -> float:
    """CPU of the Python worker daemon under the JVM, including workers
    it has already reaped, plus live workers."""
    if jvm is None:
        return 0.0
    total = 0.0
    for daemon in child_pids(jvm):
        if _comm(daemon).startswith("python"):
            total += cpu_s(daemon, children=True)
            total += sum(cpu_s(w) for w in child_pids(daemon))
    return total


def _reason(exc: BaseException) -> str:
    """First line of the error plus the nested exception lines."""
    lines = str(exc).splitlines() or [""]
    causes = [ln.strip() for ln in lines[1:] if "Error" in ln or "Exception" in ln]
    return " | ".join([f"{type(exc).__name__}: {lines[0][:300]}", *causes[:6]])[:1500]


def build_ops(args):
    import workloads

    if args.workload == "mr_text":
        return workloads.mr_text_ops(args.work_dir, args.seed)
    with open(os.path.join(args.data_dir, "expected.json")) as fh:
        expected = json.load(fh)["expected"]
    return workloads.registry_ops(args.workload, args.data_dir, expected)


def setup():
    from p6__mapreduce_spark import queries  # noqa: F401 - import cost is part of setup
    from p6__mapreduce_spark.session import get_session

    t0 = time.time()
    spark = get_session("perfbench")
    session_s = time.time() - t0
    spark.range(0, 100_000, 1, 4).selectExpr("sum(id)").collect()
    return spark, session_s, time.time() - T_SPAWN


def measure(spark, args) -> dict:
    import workloads
    from p6__mapreduce_spark import queries

    sc = spark.sparkContext
    ops = build_ops(args)
    progress: list[dict] = []
    if args.trace:
        from pyspark.sql.streaming import StreamingQueryListener

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    def run_pass(pass_no: int) -> float:
        wall = 0.0
        for name, build, check in ops:
            key = f"{pass_no}|{name}"
            sc.setJobGroup(f"pb|{key}|construct", name)
            t0 = time.time()
            t1 = t2 = None
            pdf, reason = None, None
            try:
                df = build(spark)
                t1 = time.time()
                sc.setJobGroup(f"pb|{key}|action", name)
                pdf = df.toPandas()
                t2 = time.time()
            except Exception as exc:  # noqa: BLE001 - a failure is a measured outcome
                reason = _reason(exc)
                t1 = t1 or time.time()
                t2 = time.time()
            if args.trace:
                sc.setJobGroup(f"pb|{key}|end", name)
                sc.parallelize([0], 1).count()
            sc.setLocalProperty("spark.jobGroup.id", None)
            if reason is None:
                try:
                    reason = check(pdf)
                except Exception as exc:  # noqa: BLE001 - an uncheckable result is a wrong one
                    reason = "check: " + _reason(exc)
            for memo in ("_MEMO", "_CENTROIDS"):
                getattr(queries, memo, {}).clear()
            spark.catalog.clearCache()
            phases.append({"key": key, "phase": "construct", "t0": t0 * 1e3, "t1": t1 * 1e3})
            phases.append({"key": key, "phase": "action", "t0": t1 * 1e3, "t1": t2 * 1e3})
            records.append({
                "op": name, "pass": pass_no, "construct_s": t1 - t0, "action_s": t2 - t1,
                "latency_s": t2 - t0, "ok": reason is None, "reason": reason,
            })
            wall += t2 - t0
        return wall

    records, phases = [], []
    jvm = jvm_pid()
    jvm_cpu0, py_cpu0 = cpu_s(jvm) if jvm else 0.0, python_worker_cpu_s(jvm)
    t_start = time.time()
    walls = [run_pass(p) for p in range(args.passes)]
    t_end = time.time()
    out = {
        "records": records,
        "pass_walls": walls,
        "phases": phases,
        "window_ms": [t_start * 1e3, t_end * 1e3],
        "jvm_cpu_s": (cpu_s(jvm) if jvm else 0.0) - jvm_cpu0,
        "python_worker_cpu_s": python_worker_cpu_s(jvm) - py_cpu0,
        "peak_rss_mb": {"python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm) if jvm else 0.0},
    }
    if args.trace:
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        out["progress"] = list(progress)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work-dir")
    ap.add_argument("--data-dir")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spark, session_s, setup_s = setup()
    result = {"setup_s": setup_s, "session_start_s": session_s, **measure(spark, args)}
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
