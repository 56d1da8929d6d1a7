#!/usr/bin/env python3
"""Self-tests of the benchmark's own tooling.

    python3 perfbench/selftest.py

Checks, from the root of a checkout:

* a corrupted result fails its check (registry oracle form and the
  ordered mr_text comparison), so a wrong answer cannot pass silently;
* the input generators are deterministic: the same seed gives the same
  bytes, a different seed different files;
* the event-log parser returns the known job, stage and task counts of
  fixed ``spark.range`` jobs, attributes them to their phase, and sees
  the bytes a persisted DataFrame leaves cached.

Exits 0 when every check passes.
"""

from __future__ import annotations

import filecmp
import glob
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pandas as pd  # noqa: E402

import datagen  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work", "selftest")
FAILS: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILS.append(what)


def test_checks_catch_corruption() -> None:
    good = pd.DataFrame({"k": ["a", "b", "c"], "n": [1, 2, 3]})
    check = workloads.check_against(workloads.result_key(good))
    expect(check(good.iloc[::-1].reset_index(drop=True)) is None, "oracle check ignores row order")
    bad = good.copy()
    bad.loc[1, "n"] = 20
    expect(check(bad) is not None, "oracle check catches a changed value")
    expect(check(good.iloc[:2]) is not None, "oracle check catches a missing row")
    expect(check(good.rename(columns={"n": "m"})) is not None, "oracle check catches a renamed column")
    expect(check(good.astype({"n": "float64"})) is not None, "oracle check catches a dtype change")

    rows = [("Venus", 2), ("abuse", 5)]
    ordered = workloads.check_rows(rows, ["key", "cnt"])
    pdf = pd.DataFrame(rows, columns=["key", "cnt"])
    expect(ordered(pdf) is None, "ordered check accepts the right answer")
    expect(ordered(pdf.iloc[::-1].reset_index(drop=True)) is not None, "ordered check catches a wrong order")
    expect(ordered(pdf.assign(cnt=[2, 6])) is not None, "ordered check catches a wrong count")
    unordered = workloads.check_rows(rows, ["key", "cnt"], ordered=False)
    expect(unordered(pdf.iloc[::-1].reset_index(drop=True)) is None, "unordered check ignores row order")
    expect(unordered(pdf.assign(cnt=[2, 6])) is not None, "unordered check catches a wrong count")
    expect(unordered(pdf.iloc[:1]) is not None, "unordered check catches a missing row")


def test_generators_deterministic() -> None:
    base = os.path.join(WORK, "gen")
    shutil.rmtree(base, ignore_errors=True)
    a = datagen.write_mr_text(os.path.join(base, "a"), datagen.mr_text_lines(7))
    b = datagen.write_mr_text(os.path.join(base, "b"), datagen.mr_text_lines(7))
    c = datagen.write_mr_text(os.path.join(base, "c"), datagen.mr_text_lines(8))
    same = all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    differ = all(not filecmp.cmp(x, z, shallow=False) for x, z in zip(a, c))
    expect(same, "mr_text: same seed gives the same bytes")
    expect(differ, "mr_text: a different seed gives different files")
    lines = [ln for f in datagen.mr_text_lines(7) for ln in f]
    expect(max(map(len, lines)) <= 99 and min(map(len, lines)) >= 1, "mr_text: every line is 1..99 characters")
    expect(any(int(ln) >= 2**31 for ln in lines if ln.isdigit()), "mr_text: numeric lines above 2**31 present")

    datagen.write_star(os.path.join(base, "s1"), 0.001, 42)
    datagen.write_star(os.path.join(base, "s2"), 0.001, 42)
    datagen.write_star(os.path.join(base, "s3"), 0.001, 43)
    names = sorted(os.listdir(os.path.join(base, "s1")))
    same = all(filecmp.cmp(os.path.join(base, "s1", n), os.path.join(base, "s2", n), shallow=False) for n in names)
    differ = not filecmp.cmp(os.path.join(base, "s1", "lineitem.parquet"), os.path.join(base, "s3", "lineitem.parquet"), shallow=False)
    expect(same, "star tables: same seed gives the same bytes")
    expect(differ, "star tables: a different seed gives different files")
    shutil.rmtree(base, ignore_errors=True)


def test_spark(spark) -> None:
    sc = spark.sparkContext
    t0 = time.time() * 1e3
    sc.setJobGroup("pb|0|probe|construct", "probe")
    spark.range(0, 1000, 1, 4).collect()
    cached = sc.parallelize(range(200_000), 2).persist()
    cached.count()
    t1 = time.time() * 1e3
    sc.setJobGroup("pb|0|probe|action", "probe")
    spark.range(0, 1000, 1, 3).collect()
    t2 = time.time() * 1e3
    sc.setJobGroup("pb|0|probe|end", "probe")
    sc.parallelize([0], 1).count()
    t3 = time.time() * 1e3
    sc.setLocalProperty("spark.jobGroup.id", None)
    cached.unpersist()
    spark.stop()

    logs = glob.glob(os.path.join(WORK, "eventlog", "*"))
    expect(len(logs) == 1, "one event log written")
    if len(logs) != 1:
        return
    phases = [
        {"key": "0|probe", "phase": "construct", "t0": t0, "t1": t1},
        {"key": "0|probe", "phase": "action", "t0": t1, "t1": t2},
    ]
    m = eventlog.parse(eventlog.read_events(logs[0]), phases, (t0, t3), 1)
    # no shuffle anywhere, so each action is one job of one stage with
    # one task per partition: 4 + 2 + 3 tasks
    expect(m["spark.jobs"] == 3, f"parser: 3 jobs (got {m['spark.jobs']})")
    expect(m["spark.stages"] == 3, f"parser: 3 stages (got {m['spark.stages']})")
    expect(m["spark.tasks"] == 9, f"parser: 9 tasks (got {m['spark.tasks']})")
    expect(m["queries.construct_jobs"] == 2, f"parser: 2 construct jobs (got {m['queries.construct_jobs']})")
    expect(m["queries.construct_collect_jobs"] == 1, f"parser: 1 construct collect job (got {m['queries.construct_collect_jobs']})")
    expect(m["action.jobs"] == 1, f"parser: 1 action job (got {m['action.jobs']})")
    expect(m["pin.retained_mb"] > 0.1, f"parser: persisted bytes seen at the end marker ({m['pin.retained_mb']:.2f} MB)")
    expect(m["spark.failed_tasks"] == 0, "parser: no failed tasks")


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    test_checks_catch_corruption()
    test_generators_deterministic()

    os.environ.update(run.worker_env(WORK, trace=True))
    from p6__mapreduce_spark.session import get_session

    test_spark(get_session("perfbench-selftest"))
    shutil.rmtree(WORK, ignore_errors=True)
    print(f"{len(FAILS)} failed" if FAILS else "all passed")
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
