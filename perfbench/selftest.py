#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (about two minutes).

    python3 perfbench/selftest.py

Run from the repository root. In one Spark session it runs every
workload once untraced and once traced, and checks that:

* every metric the benchmark defines is printed with its unit and a
  finite value, and every other metric of its design is listed in
  ``run.DROPPED`` with a reason;
* every job passed the exact-answer check (a traced native Bloom job
  also checks its fold against ``build_native_bloom_state``);
* spans nest inside their parents, self times are non-negative and a
  job's self times sum to its wall time;
* the plan walker returned populated Python-node metrics.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

DESIGNED_END_TO_END = (
    "setup_s", "job_s_p50", "updates_per_s", "shuffle_bytes",
    "peak_rss_mb", "error_vs_bound", "failed_frac",
)


class SelfTestError(AssertionError):
    pass


def require(ok: bool, message: str) -> None:
    if not ok:
        raise SelfTestError(message)


def check_metrics(result: dict, expected: list[dict], label: str) -> None:
    require(result["correct"] and result["failed"] == 0, f"{label}: a job failed its check")
    require(result["attempted"] >= 1, f"{label}: no job attempted")
    got = result["metrics"]
    for m in expected:
        require(m["name"] in got, f"{label}: metric {m['name']} missing")
        entry = got[m["name"]]
        require(entry["unit"] == m["unit"], f"{label}: {m['name']} unit {entry['unit']}")
        require(math.isfinite(entry["value"]), f"{label}: {m['name']} not finite")


def check_spans(tracer, label: str) -> None:
    by_id = {s.id: s for s in tracer.spans}
    for s in tracer.spans:
        require(s.end >= s.start, f"{label}: span {s.name} ends before it starts")
        if s.parent is not None:
            p = by_id[s.parent]
            require(p.start <= s.start and s.end <= p.end,
                    f"{label}: span {s.name} is not inside its parent {p.name}")
            require(p.job == s.job, f"{label}: span {s.name} has another job id than its parent")
    for root in tracer.roots():
        tree, todo = [], [root]
        while todo:
            s = todo.pop()
            tree.append(s)
            todo.extend(tracer.children(s))
        selfs = [tracer.self_time(s) for s in tree]
        require(min(selfs) >= -1e-9, f"{label}: negative self time under {root.name}")
        require(abs(sum(selfs) - root.wall) < 1e-6,
                f"{label}: self times of {root.name} do not sum to its wall")


def check_walker(tracer, label: str) -> None:
    plans = [s.counters["plan"] for s in tracer.spans if "plan" in s.counters]
    require(plans, f"{label}: no plan metrics recorded")
    require(any(p["python_nodes"] > 0 and p["python_sent_bytes"] > 0 for p in plans),
            f"{label}: walker found no populated Python-node metrics")


def main() -> int:
    spec = run.load_spec()
    names = {m["name"] for m in spec["end_to_end"]}
    for name in DESIGNED_END_TO_END:
        require(name in names or name in run.DROPPED,
                f"metric {name} is neither defined nor listed as dropped")
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    run.prepare_environment(work)
    spark = None
    try:
        spark = run.start_session(work, run.cores())
        spark.sparkContext.setLogLevel("ERROR")
        for workload in spec["workloads"]:
            name = workload["name"]
            for trace in (False, True):
                label = f"{name} trace={int(trace)}"
                result, tracer = run.bench(
                    spark, name, seed=1, seconds=0.5, trace=trace, work=work,
                    cores=run.cores(), session_s=0.0, n_rows=3000, n_hosts=20,
                )
                check_metrics(result, spec["per_layer" if trace else "end_to_end"], label)
                if trace:
                    check_spans(tracer, label)
                    check_walker(tracer, label)
                print(f"selftest: {label} ok", flush=True)
    finally:
        if spark is not None:
            run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, reason in run.DROPPED.items():
        print(f"selftest: dropped {name}: {reason}")
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
