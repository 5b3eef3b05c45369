"""Interleaved A/B of the perfbench workloads: a base commit against the
working tree.

    python tools/ab_bench.py --base HEAD~1 --workloads rollup_hosts build_probe \\
        --seeds 11-20 --claim rollup_hosts:job_s_p50 --out ab_runs.jsonl

The base commit and the working tree (its tracked files, as ``git stash
create`` records them) are each exported with ``git archive`` into a
temporary directory, so both sides run from fresh copies of the same
shape. For each workload and seed (one pair per seed), both sides run
``python3 perfbench/run.py --workload W --seed S --seconds T --trace 0``
from their own root, the side that runs first alternating pair by pair.
Each run's JSON result is appended to ``--out`` as it finishes;
``--report`` re-prints the tables from such a file without running.

Per workload and end-to-end metric of the base's ``BENCHMARK.json`` it
prints each side's median and quartiles, the pairs the change wins and
the pairs with equal values, and a verdict:

* ``REGRESSION`` — the change's median is worse than the base's by more
  than the metric's bound;
* ``unresolved`` — the base's own spread (IQR ÷ median) is wider than
  the bound, and not every change run beats every base run;
* ``ok`` otherwise.

A ``--claim W:M`` is met when at least ``PAIRS`` (10) pairs ran, the
change wins at least 9/10 of them (ties count for neither side) and the
medians differ, in the change's favour, by more than the distance
between the base's quartiles. The exit status is 1 when a job failed, a metric regressed or
a claim is unmet.

``--leaves`` A/Bs ``bench.py`` queries instead of the perfbench workloads:

    python tools/ab_bench.py --base HEAD~1 \\
        --leaves pages_bloom_membership pages_cuckoo_membership pages_cs_moments

Each of ``PAIRS`` pairs runs ``SPARK_GRAFT_BENCH_ONLY=<leaves> python
bench.py`` once per side, alternating which side runs first, with the
caller's environment otherwise (``SPARK_GRAFT_SF_DIR``,
``SPARK_GRAFT_CPUS``, …).
It prints per leaf each side's min and median of the runs' min-of-reps
seconds, the median of the paired change/base ratios and the pairs the
change wins (lower time). Nothing is judged against a bound: the reader
compares the ratio with each side's spread.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("base", "change")
PAIRS = 10  # the fewest pairs a claim is judged on; the pairs of a --leaves run


def seeds_arg(text: str) -> list[int]:
    """``11-20`` or ``1,4,9``."""
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def export(rev: str | None, dest: str) -> None:
    """Extract ``rev`` into ``dest``; ``None`` is the working tree's
    tracked files (``git stash create``, or HEAD when nothing changed)."""
    if rev is None:
        rev = subprocess.run(
            ["git", "-C", REPO, "stash", "create"], check=True, capture_output=True, text=True
        ).stdout.strip() or "HEAD"
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", rev], check=True, capture_output=True
    ).stdout
    os.makedirs(dest)
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_json(cmd: list[str], root: str, env: dict | None = None) -> dict:
    """Run ``cmd`` in ``root`` and parse the last stdout line as JSON."""
    proc = subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
        raise RuntimeError(f"{' '.join(cmd)} in {root} exited {proc.returncode}:\n{tail}")
    return json.loads(lines[-1])


def run_side(root: str, workload: str, seed: int, seconds: float) -> dict:
    return run_json([sys.executable, "perfbench/run.py", "--workload", workload,
                     "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"], root)


def run_leaves(root: str, leaves: list[str]) -> dict[str, float]:
    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=",".join(leaves))
    return run_json([sys.executable, "bench.py"], root, env)["queries"]


def run_pairs(jobs: list[dict], runner, out: str | None) -> list[dict]:
    """Run each job once per side, the side that runs first alternating
    job by job; each finished pair is appended to ``out``."""
    runs = []
    for i, job in enumerate(jobs):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = dict(job, first=order[0])
        for side in order:
            pair[side] = runner(side, job)
        runs.append(pair)
        print(f"pair {i + 1}/{len(jobs)} {job} ({order[0]} first) done",
              file=sys.stderr, flush=True)
        if out:
            with open(out, "a") as fh:
                fh.write(json.dumps(pair) + "\n")
    return runs


def report_leaves(runs: list[dict]) -> None:
    """Per-leaf table of bench.py pairs (no bound to judge against)."""
    print(f"\nbench.py leaves: {len(runs)} pairs")
    print(f"  {'leaf':<28} {'base min / median':<20} {'change min / median':<20} "
          f"{'ratio':>7} {'wins':>6}")
    for leaf in runs[0]["base"]:
        base = [r["base"][leaf] for r in runs]
        change = [r["change"][leaf] for r in runs]
        ratio = statistics.median(c / b for b, c in zip(base, change))
        wins = sum(c < b for b, c in zip(base, change))
        b, c = (f"{min(x):.3f} / {statistics.median(x):.3f}" for x in (base, change))
        print(f"  {leaf:<28} {b:<20} {c:<20} {ratio:>7.3f} {wins:>3}/{len(runs):<2}")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def compare(runs: list[dict], metric: dict) -> dict:
    """The figures of one metric over the pairs of one workload."""
    name, lower = metric["name"], metric["better"] == "lower"
    pairs = [(r["base"]["metrics"][name]["value"], r["change"]["metrics"][name]["value"])
             for r in runs]
    base = [b for b, _ in pairs]
    change = [c for _, c in pairs]
    bq, cq = quartiles(base), quartiles(change)

    def better(x, y):  # x better than y
        return x < y if lower else x > y

    wins = sum(better(c, b) for b, c in pairs)
    worse_by = (cq[1] - bq[1]) if lower else (bq[1] - cq[1])
    rel_worse = worse_by / abs(bq[1]) if bq[1] else (0.0 if worse_by <= 0 else float("inf"))
    spread = (bq[2] - bq[0]) / abs(bq[1]) if bq[1] else 0.0
    all_better = all(better(c, b) for c in change for b in base)
    if rel_worse > metric["bound"]:
        verdict = "REGRESSION"
    elif spread > metric["bound"] and not all_better:
        verdict = "unresolved"
    else:
        verdict = "ok"
    return {
        "name": name, "unit": metric["unit"], "base": bq, "change": cq,
        "wins": wins, "equal": sum(b == c for b, c in pairs), "n": len(pairs),
        "change_pct": (cq[1] - bq[1]) / abs(bq[1]) * 100 if bq[1] else 0.0,
        "verdict": verdict, "gap": -worse_by, "base_iqr": bq[2] - bq[0],
    }


def report(runs: list[dict], spec: dict, claims: list[str]) -> bool:
    """Print the tables; True when nothing failed, regressed or missed."""
    ok = True
    by_wl: dict[str, list[dict]] = {}
    for r in runs:
        by_wl.setdefault(r["workload"], []).append(r)
    rows: dict[tuple[str, str], dict] = {}
    for wl, wl_runs in by_wl.items():
        fails = {s: (sum(r[s]["failed"] for r in wl_runs), sum(r[s]["attempted"] for r in wl_runs))
                 for s in SIDES}
        print(f"\n{wl}: {len(wl_runs)} pairs (seeds {', '.join(str(r['seed']) for r in wl_runs)}); "
              + "; ".join(f"{s} failed {f}/{a} jobs" for s, (f, a) in fails.items()))
        ok &= all(f == 0 for f, _ in fails.values())
        print(f"  {'metric':<15} {'base median [q1, q3]':<34} {'change median [q1, q3]':<34} "
              f"{'wins':>6} {'equal':>6} {'change':>8}  verdict")
        for metric in spec["end_to_end"]:
            c = compare(wl_runs, metric)
            rows[(wl, c["name"])] = c
            ok &= c["verdict"] != "REGRESSION"
            b, ch = (f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]" for q in (c["base"], c["change"]))
            print(f"  {c['name']:<15} {b:<34} {ch:<34} {c['wins']:>3}/{c['n']:<2} "
                  f"{c['equal']:>6} {c['change_pct']:>+7.1f}%  {c['verdict']}")
    for claim in claims:
        wl, name = claim.split(":")
        c = rows.get((wl, name))
        if c is None:
            print(f"\nclaim {claim}: no runs")
            ok = False
            continue
        met = c["n"] >= PAIRS and c["wins"] >= 0.9 * c["n"] and c["gap"] > c["base_iqr"]
        ok &= met
        print(f"\nclaim {claim}: change wins {c['wins']}/{c['n']} pairs "
              f"(need >= {PAIRS} pairs, >= 9/10 won); "
              f"median gap {c['gap']:.4g} {c['unit']} vs base IQR {c['base_iqr']:.4g} "
              f"(need gap > IQR) -> {'MET' if met else 'NOT MET'}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default="HEAD", help="base commit (default HEAD)")
    ap.add_argument("--workloads", nargs="+", default=["rollup_hosts", "build_probe"])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("11-20"),
                    help="one pair per seed: 11-20 or 1,4,9 (default 11-20)")
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--claim", action="append", default=[], metavar="WORKLOAD:METRIC")
    ap.add_argument("--out", help="JSONL file each finished pair is appended to")
    ap.add_argument("--report", action="store_true",
                    help="only print the tables for the pairs already in --out")
    ap.add_argument("--leaves", nargs="+", metavar="QUERY",
                    help="A/B these bench.py queries instead of the workloads")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.report:
        with open(args.out) as fh:
            runs = [json.loads(line) for line in fh if line.strip()]
        if runs and "leaves" in runs[0]:
            report_leaves(runs)
            return 0
        return 0 if report(runs, spec, args.claim) else 1

    tmp = tempfile.mkdtemp(prefix="ab_bench_")
    roots = {side: os.path.join(tmp, side) for side in SIDES}
    try:
        export(args.base, roots["base"])
        export(None, roots["change"])
        with open(os.path.join(roots["base"], "BENCHMARK.json")) as fh:
            spec = json.load(fh)  # the base fixes the metrics and bounds
        if args.leaves:
            jobs = [{"leaves": args.leaves}] * PAIRS
            runs = run_pairs(jobs, lambda side, job: run_leaves(roots[side], job["leaves"]),
                             args.out)
            report_leaves(runs)
            return 0
        jobs = [{"workload": wl, "seed": seed} for wl in args.workloads for seed in args.seeds]
        runs = run_pairs(
            jobs,
            lambda side, job: run_side(roots[side], job["workload"], job["seed"], args.seconds),
            args.out,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0 if report(runs, spec, args.claim) else 1


if __name__ == "__main__":
    sys.exit(main())
