#!/usr/bin/env python3
"""Sketch-library benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload rollup_hosts --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver submits one job at a time and
waits for its result (a closed loop, no other client threads) on
``local[nproc]``. Set-up starts the session, generates the ``pages``
input from ``--seed`` three times, computes the exact answers once with
Spark's exact aggregates, then runs untimed warm-up jobs for about three
seconds (at least one of each kind); ``setup_s`` is the session start
plus the median generation plus the exact answers plus the warm-up.
Every job's result is checked against the exact answers.

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json.
``--trace 1`` splits ``--seconds`` between untraced jobs and traced jobs
(each intermediate persisted and counted, one span per layer), times the
numpy kernels in-process, prints the per-layer metrics and writes the
spans to ``.perfbench_out/``. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

N_HOSTS = 50
SETUP_REPS = 3
WARMUP_S = 3.0  # warm-up runs jobs until this much time has passed
DRIVER_MEMORY = "2g"


# metrics of the benchmark's design that it does not report, with the reason
DROPPED = {
    "failed_frac": "0 whenever the program is correct, and a metric with median 0 "
    "cannot carry a relative bound; the result's attempted and failed fields report it",
}


def log(*parts) -> None:
    print("perfbench:", *parts, file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", work)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from perfbench.rss import tree_pids

    descendants = set(tree_pids(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants and time.monotonic() < deadline:
        descendants = {p for p in descendants if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in descendants:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def generate(spark, seed: int, path: str, n_rows: int, n_hosts: int, cores: int) -> None:
    from probabilistic_rs_spark.datagen import pages_df

    # only the columns some workload reads; html and lang would only
    # lengthen the set-up of every run
    pages = pages_df(spark, n_rows, seed=seed, n_hosts=n_hosts, partitions=cores)
    pages.select("url", "warc_ts", "text").write.mode("overwrite").parquet(path)


def setup(spark, wl, seed: int, work: str, n_rows: int, n_hosts: int, cores: int):
    """Generate the input SETUP_REPS times, keep the last, and compute its
    exact answers; returns (inputs, median generation s, exact s)."""
    from perfbench.workloads import Inputs

    times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        path = os.path.join(work, f"pages_{rep}")
        generate(spark, seed, path, n_rows, n_hosts, cores)
        times.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(os.path.join(work, f"pages_{rep - 1}"), ignore_errors=True)
    inp = Inputs(path=path, n_rows=n_rows)
    t0 = time.perf_counter()
    wl.exact(spark, inp)
    return inp, statistics.median(times), time.perf_counter() - t0


# ---------------------------------------------------------------------------
# closed loop
# ---------------------------------------------------------------------------


def _digest(table) -> str:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


class Loop:
    """Runs jobs until a time budget is spent; records each job.

    Jobs cycle through the workload's ``CYCLE`` of kinds (one kind, except
    the three structures of ``build_probe``). A metric is the median over
    each kind's jobs, averaged over the kinds, so every structure weighs
    equally however many jobs of each fit in the budget."""

    def __init__(self, spark, wl, inp, traced=None):
        from perfbench.planmetrics import executor_totals

        self.spark, self.wl, self.inp, self.traced = spark, wl, inp, traced
        self.executor_totals = executor_totals
        self.kinds = len(getattr(wl, "CYCLE", (None,)))
        self.job = 0
        self.attempted = self.failed = 0
        self.jobs: list[dict] = []
        self.family_ratios: dict[str, float] = {}
        self.checked: dict = {}

    def one_job(self) -> dict:
        before = self.executor_totals(self.spark)
        t0 = time.perf_counter()
        if self.traced is None:
            result = self.wl.job(self.spark, self.inp, self.job)
        else:
            with self.traced.job(f"job:{self.wl.name}", self.job) as root:
                result = self.wl.traced_job(self.traced, self.inp, self.job)
        wall = time.perf_counter() - t0
        shuffle = self.executor_totals(self.spark)["shuffle_write_bytes"] - before["shuffle_write_bytes"]
        kind = self.job % self.kinds
        # a result identical to an earlier one has the same check outcome
        key = (kind, _digest(result))
        check = self.checked.get(key)
        if check is None:
            check = self.checked[key] = self.wl.check(self.inp, result, self.job)
        for family, ratio in check.ratios.items():
            self.family_ratios[family] = max(ratio, self.family_ratios.get(family, 0.0))
        if not check.ok:
            log(f"job {self.job} failed its check:", "; ".join(check.errors))
        if self.traced is not None:
            root.counters["check"] = {"ratios": check.ratios, "details": check.details,
                                      "errors": check.errors}
        return {"kind": kind, "wall": wall, "shuffle": shuffle, "error": check.worst,
                "updates": self.wl.updates(self.inp, self.job), "ok": check.ok}

    def run(self, seconds: float) -> None:
        """A job of every kind, then more until ``seconds`` have passed."""
        start = time.perf_counter()
        while self.job < self.kinds or time.perf_counter() - start < seconds:
            self.attempted += 1
            try:
                rec = self.one_job()
            except Exception:  # a failed job is counted, not fatal
                log(f"job {self.job} raised:\n{traceback.format_exc()}")
                self.failed += 1
            else:
                self.failed += not rec["ok"]
                self.jobs.append(rec)
            self.job += 1
            if not self.jobs and self.failed >= 3:
                return  # nothing works; do not spin for the whole budget

    def median(self, key: str) -> float:
        """0.0 when no job succeeded (the result then reads correct: false)."""
        if not self.jobs:
            return 0.0
        by_kind: dict[int, list] = {}
        for j in self.jobs:
            by_kind.setdefault(j["kind"], []).append(j[key])
        return statistics.fmean(statistics.median(v) for v in by_kind.values())


# ---------------------------------------------------------------------------
# per-layer metrics from the spans of traced jobs
# ---------------------------------------------------------------------------


def _descendants(tracer, span) -> list:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        kids = tracer.children(s)
        out.extend(kids)
        todo.extend(kids)
    return out


def layer_metrics(tracer, root, inp, cores: int) -> dict:
    spans = _descendants(tracer, root)
    plans = [s.counters["plan"] for s in spans if "plan" in s.counters]
    m = {k: sum(p[k] for p in plans) for k in (
        "scan.pipeline_ms", "scan.input_bytes",
        "shuffle.write_bytes", "shuffle.records", "shuffle.write_ms",
    )}
    by = {s.name: s for s in spans}
    if "sketch_agg.partials" in by:
        s = by["sketch_agg.partials"]
        p = s.counters["plan"]
        m["sketch_agg.partials.s"] = s.wall
        m["sketch_agg.partials.python_ms"] = p["python_ms"]
        m["sketch_agg.partials.arrow_sent_bytes"] = p["python_sent_bytes"]
        m["sketch_agg.partials.rows_out"] = s.counters["rows_out"]
        m["sketch_agg.partials.state_bytes"] = p["python_received_bytes"]
        m["sketch_agg.partials.combine_ratio"] = s.counters["rows_out"] / inp.n_rows
    if "sketch_agg.merge" in by:
        s = by["sketch_agg.merge"]
        p = s.counters["plan"]
        m["sketch_agg.merge.s"] = s.wall
        m["sketch_agg.merge.python_ms"] = p["python_ms"]
        m["sketch_agg.merge.groups"] = s.counters["groups"]
        m["sketch_agg.merge.fanin"] = s.counters["fanin"]
        m["sketch_agg.merge.sort_peak_bytes"] = p["sort_peak_bytes"]
    if "sketch_agg.finish" in by:
        s = by["sketch_agg.finish"]
        m["sketch_agg.finish.s"] = s.wall
        m["sketch_agg.finish.python_ms"] = s.counters["plan"]["python_ms"]
    if "sketch_agg.fold.collect" in by:
        s = by["sketch_agg.fold.collect"]
        m["sketch_agg.fold.collect_s"] = s.wall
        m["sketch_agg.fold.collected_bytes"] = s.counters["collected_bytes"]
        m["sketch_agg.fold.merge_s"] = by["sketch_agg.fold.merge"].wall
    check = root.counters.get("check")
    for op in ("membership", "windowed_bloom", "heavy_hitters"):
        build, probe = by.get(f"{op}.build"), by.get(f"{op}.probe")
        if build is None or probe is None:
            continue
        op_plans = [
            s.counters["plan"]
            for s in [build, probe] + _descendants(tracer, build)
            if "plan" in s.counters
        ]
        m[f"{op}.build_s"] = build.wall
        m[f"{op}.probe_s"] = probe.wall
        m[f"{op}.probe_rows_per_s"] = 2 * inp.exact["rows_present"] / probe.wall
        m[f"{op}.python_nodes"] = sum(p["python_nodes"] for p in op_plans)
        m[f"{op}.exchange_bytes"] = sum(p["shuffle.write_bytes"] for p in op_plans)
        if check is not None and "fp_ratio" in check["details"]:
            m[f"{op}.fp_ratio"] = check["details"]["fp_ratio"]
    st = root.counters["stages"]
    m["executor.busy_ms"] = st["busy_ms"]
    m["executor.idle_frac"] = 1.0 - st["busy_ms"] / 1e3 / (cores * root.wall)
    m["executor.gc_ms"] = st["gc_ms"]
    m["executor.spill_bytes"] = st["spill_bytes"]
    m["executor.tasks"] = st["tasks"]
    m["executor.failed_tasks"] = st["failed_tasks"]
    return m


def self_time_shares(tracer, roots) -> dict:
    """Median share of job wall spent in each span name's own (self) time."""
    shares: dict[str, list] = {}
    for root in roots:
        for s in [root] + _descendants(tracer, root):
            shares.setdefault(s.name, []).append(tracer.self_time(s) / root.wall)
    return {k: statistics.median(v) for k, v in shares.items()}


def kernel_sample(spark, inp):
    """A 20% sample of the seed's urls and text lengths, on the driver."""
    from pyspark.sql import functions as F

    tbl = (
        spark.read.parquet(inp.path)
        .where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
        .select("url", F.length("text").cast("double").alias("n"))
        .toArrow()
    )
    return tbl.column("url").to_pylist(), tbl.column("n").to_numpy()


# ---------------------------------------------------------------------------
# one benchmark run inside a started session
# ---------------------------------------------------------------------------


def bench(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
          cores: int, session_s: float, n_rows: int | None = None, n_hosts: int = N_HOSTS):
    """Returns (result dict, tracer or None). ``n_rows`` defaults to the
    workload's own input size."""
    from perfbench.kernels import kernel_metrics
    from perfbench.rss import PeakRss
    from perfbench.workloads import WORKLOADS, Traced

    spec = load_spec()
    wl = WORKLOADS[workload]
    n_rows = n_rows or wl.ROWS
    inp, gen_s, exact_s = setup(spark, wl, seed, work, n_rows, n_hosts, cores)
    t0 = time.perf_counter()
    Loop(spark, wl, inp).run(WARMUP_S)  # untimed warm-up
    warm_s = time.perf_counter() - t0
    setup_s = session_s + gen_s + exact_s + warm_s
    log(f"{workload} seed={seed}: session {session_s:.2f} s, generate {gen_s:.2f} s "
        f"(median of {SETUP_REPS}), exact {exact_s:.2f} s, warm-up {warm_s:.2f} s")

    if not trace:
        loop = Loop(spark, wl, inp)
        with PeakRss() as rss:
            loop.run(seconds)
        jobs = loop.jobs
        values = {
            "setup_s": setup_s,
            "job_s_p50": loop.median("wall"),
            "updates_per_s": sum(j["updates"] for j in jobs) / sum(j["wall"] for j in jobs)
            if jobs else 0.0,
            "shuffle_bytes": loop.median("shuffle"),
            "peak_rss_mb": rss.peak_bytes / 2**20,
            "error_vs_bound": loop.median("error"),
        }
        log(f"{len(jobs)} jobs of {loop.kinds} kind(s); job walls (s):",
            ", ".join(f"{j['wall']:.3f}" for j in jobs))
        log("error/bound by family:", ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(loop.family_ratios.items())))
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        return _result(loop.attempted, loop.failed, metrics), None

    untraced = Loop(spark, wl, inp)
    untraced.run(seconds / 2)
    traced = Traced(spark)
    tloop = Loop(spark, wl, inp, traced=traced)
    tloop.run(seconds / 2)
    tracer = traced.tracer
    # a job that raised has no stage totals; it counts in ``failed`` only
    roots = [r for r in tracer.roots() if "stages" in r.counters]
    per_job = [layer_metrics(tracer, r, inp, cores) for r in roots]
    with tracer.span("kernels"):
        kern = kernel_metrics(*kernel_sample(spark, inp))
    values = {}
    for m in spec["per_layer"]:
        name = m["name"]
        seen = [j[name] for j in per_job if name in j]
        values[name] = statistics.median(seen) if seen else kern.get(name, 0.0)
    values["trace.overhead_s"] = tloop.median("wall") - untraced.median("wall")
    shares = self_time_shares(tracer, roots)
    log("median self-time share of job wall:",
        ", ".join(f"{k} {v:.1%}" for k, v in sorted(shares.items(), key=lambda kv: -kv[1])))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans_{workload}_seed{seed}.json"))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer"]}
    attempted = untraced.attempted + tloop.attempted
    failed = untraced.failed + tloop.failed
    return _result(attempted, failed, metrics), tracer


def _result(attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def prepare_environment(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``."""
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None


def cores() -> int:
    return len(os.sched_getaffinity(0))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "probabilistic_rs_spark")):
        log("probabilistic_rs_spark/ not found; run from the repository root")
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    prepare_environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores())
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        result, _ = bench(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                          work, cores(), session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
