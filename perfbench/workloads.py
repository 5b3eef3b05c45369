"""The benchmark's two workloads.

Each workload reads the generated ``pages`` parquet, runs one job per
call through the library's public operators and returns the result as
it lands on the driver. ``exact`` computes the oracle with Spark's own
exact aggregates during set-up; ``check`` compares one job's result
with it. ``traced_job`` runs the same work as ``job`` but persists and
counts each intermediate, so each span covers one layer.

Why these two (see also BENCHMARK.json):

* ``rollup_hosts``: many small groups; the grouped merge and the partial
  group-by do most of the work.
* ``build_probe``: build one structure, then probe it, cycling through
  the native Bloom, the windowed Bloom blocks and the CMS blocks.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from perfbench import oracle
from perfbench.planmetrics import (
    MetricLedger,
    delta,
    executor_totals,
    stage_totals,
    summarize,
    walk_plan,
)
from perfbench.trace import Tracer
from probabilistic_rs_spark.operators.heavy_hitters import (
    build_cms_blocks_df,
    cms_partitioned_probe,
)
from probabilistic_rs_spark.operators.membership import (
    build_native_bloom_state,
    native_bloom_probe,
)
from probabilistic_rs_spark.operators.sketch_agg import (
    SketchSpec,
    _global_strategy,
    sketch_aggregate,
    sketch_merge,
    sketch_partials,
    with_hll_estimate,
    with_quantiles,
)
from probabilistic_rs_spark.operators.windowed_bloom import (
    build_windowed_bloom_blocks_df,
    windowed_bloom_partitioned_probe,
)
from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch

QS = list(oracle.QS)
ABSENT = "#absent"  # suffix that turns an inserted url into a never-inserted key
# Spark's own default Bloom filter FPP; at 0.01 the ~100 false positives
# among the never-inserted probes made the measured rate vary ~10% by seed
BLOOM_FPR = 0.03
CMS_EPS, CMS_DELTA = 0.001, 0.001
_JOB_GROUPS = itertools.count()


@dataclass
class Inputs:
    path: str
    n_rows: int
    exact: dict = field(default_factory=dict)


def host_expr():
    return F.regexp_extract("url", r"https://([^/]+)/", 1)


class Traced:
    """Spans plus the plan and status-store counters of each action."""

    def __init__(self, spark):
        self.spark = spark
        self.tracer = Tracer()
        self.ledger = MetricLedger()

    @contextmanager
    def span(self, name):
        before = executor_totals(self.spark)
        with self.tracer.span(name) as sp:
            yield sp
        sp.counters["executor"] = delta(executor_totals(self.spark), before)

    @contextmanager
    def job(self, name, job: int):
        """The root span of one job; its Spark jobs run under one job group
        whose stage totals land in ``counters["stages"]``."""
        sc = self.spark.sparkContext
        # unique per call: a group's stage totals cover every job ever run in it
        group = f"perfbench-{next(_JOB_GROUPS)}-{job}"
        sc.setJobGroup(group, name)
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sp.counters["stages"] = stage_totals(self.spark, group)

    def record(self, sp, df) -> None:
        """Attach the counters of the action just run on ``df``."""
        sp.counters["plan"] = summarize(self.ledger.fresh(walk_plan(df)))


def _persist_count(df):
    """Materialise ``df`` in the cache; returns (row count, counted Dataset)."""
    df.persist()
    counted = df.groupBy().count()
    return counted.collect()[0][0], counted


@contextmanager
def _inline_partitioning(spark):
    """Let AQE coalesce a cached plan's shuffle as it would inline.

    By default a cached plan keeps its shuffle partition count, while
    the same plan run inline has its small shuffle coalesced (a few MB
    of sketch states become one merge task). Persisting an intermediate
    for a span must not change that, or the traced merge would run on
    every core while the untraced one runs on a single core."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def traced_sketch_aggregate(t: Traced, src, groups, specs, finish):
    """``sketch_aggregate`` + finishers, one span per layer."""
    with _inline_partitioning(t.spark):
        with t.span("sketch_agg.partials") as sp:
            parts = sketch_partials(src, groups, specs)
            n_parts, counted = _persist_count(parts)
            t.record(sp, counted)
            sp.counters["rows_out"] = n_parts
        with t.span("sketch_agg.merge") as sp:
            merged = sketch_merge(parts, groups, specs)
            n_groups, counted = _persist_count(merged)
            t.record(sp, counted)
            sp.counters["groups"] = n_groups
            sp.counters["fanin"] = n_parts / max(1, n_groups)
        with t.span("sketch_agg.finish") as sp:
            out = finish(merged)
            tbl = out.toArrow()
            t.record(sp, out)
    merged.unpersist()
    parts.unpersist()
    return tbl


# ---------------------------------------------------------------------------
# rollup_hosts
# ---------------------------------------------------------------------------


class RollupHosts:
    name = "rollup_hosts"
    ROWS = 50_000
    P, K = 12, 200
    SPECS = [
        SketchSpec("u", "hll", "url", {"p": P}),
        SketchSpec("l", "kll", "text_len", {"k": K}),
    ]

    def source(self, spark, inp: Inputs):
        return spark.read.parquet(inp.path).select(
            host_expr().alias("host"),
            "url",
            F.length("text").cast("double").alias("text_len"),
        )

    def exact(self, spark, inp: Inputs) -> None:
        src = self.source(spark, inp)
        nd = src.groupBy("host").agg(F.count_distinct("url").alias("nd")).toArrow()
        vals = src.select("host", "text_len").toArrow()
        inp.exact = {
            "distinct": dict(zip(nd.column("host").to_pylist(), nd.column("nd").to_numpy())),
            "len": oracle.GroupedValues(
                vals.column("host").to_numpy(zero_copy_only=False).astype(str),
                vals.column("text_len").to_numpy(),
            ),
        }

    def updates(self, inp: Inputs, job: int) -> int:
        return inp.n_rows * len(self.SPECS)

    def finish(self, merged):
        out = with_hll_estimate(merged, "u_state", "n_urls")
        out = with_quantiles(out, "l_state", "kll", oracle.GRID, "len_q")
        return out.select("host", "n_urls", "len_q", "n_updates")

    def job(self, spark, inp: Inputs, job: int):
        agg = sketch_aggregate(self.source(spark, inp), ["host"], self.SPECS)
        return self.finish(agg).toArrow()

    def traced_job(self, t: Traced, inp: Inputs, job: int):
        return traced_sketch_aggregate(
            t, self.source(t.spark, inp), ["host"], self.SPECS, self.finish
        )

    def check(self, inp: Inputs, tbl, job: int) -> oracle.Check:
        c = oracle.Check()
        exact = inp.exact["distinct"]
        hosts = tbl.column("host").to_pylist()
        c.require(len(hosts) == len(exact), f"{len(hosts)} groups, exact {len(exact)}")
        c.require(set(hosts) == set(exact), "group keys differ from exact groupBy")
        if not c.ok:
            return c
        est = tbl.column("n_urls").to_numpy()
        ex = np.array([exact[h] for h in hosts])
        c.ratio("hll", oracle.rms_relative_error(est, ex), oracle.hll_bound(self.P))
        # per group, the worst rank error over GRID; a group of at most k
        # values is held exactly, so only larger groups carry sketch error
        grid = np.array(oracle.GRID)
        at_qs = np.isin(grid, QS)
        approx = []
        for h, qv in zip(hosts, tbl.column("len_q").to_pylist()):
            vals = inp.exact["len"].of(h)
            err = oracle.rank_error(vals, np.array(qv), grid)
            if len(vals) > self.K:
                approx.append(err.max())
            c.ratio("kll:max", err[at_qs].max(), oracle.kll_bound(self.K), pooled=False)
        rms = float(np.sqrt(np.mean(np.square(approx)))) if approx else 0.0
        c.ratio("kll", rms, oracle.kll_bound(self.K))
        c.require(int(np.sum(tbl.column("n_updates").to_numpy())) == inp.n_rows, "n_updates")
        return c


# ---------------------------------------------------------------------------
# build_probe
# ---------------------------------------------------------------------------


class BuildProbe:
    """Jobs cycle native Bloom -> windowed Bloom blocks -> CMS blocks."""

    name = "build_probe"
    ROWS = 50_000
    CYCLE = ("membership", "windowed_bloom", "heavy_hitters")
    WORDS_PER_BLOCK = 1024
    CELLS_PER_BLOCK = 1024

    def pages(self, spark, inp: Inputs):
        return spark.read.parquet(inp.path)

    def probes(self, spark, inp: Inputs):
        present = (
            self.pages(spark, inp)
            .select("url")
            .where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
        )
        absent = present.select(F.concat("url", F.lit(ABSENT)).alias("url"))
        return present.unionByName(absent)

    def exact(self, spark, inp: Inputs) -> None:
        pages = self.pages(spark, inp)
        sample = (
            pages.where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
            .groupBy("url")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        counts = sample.toArrow()
        levels = pages.select(F.countDistinct(F.weekofyear("warc_ts"))).collect()[0][0]
        inp.exact = {
            # the library's own build: the traced fold must give these bytes
            "nbloom_state": self._native_bloom_state(spark, inp),
            "n_present": counts.num_rows,
            "rows_present": int(np.sum(counts.column("n").to_numpy())),
            "count": dict(zip(counts.column("url").to_pylist(), counts.column("n").to_numpy())),
            "levels": int(levels),
        }

    def updates(self, inp: Inputs, job: int) -> int:
        return inp.n_rows + 2 * inp.exact["rows_present"]

    @staticmethod
    def _membership_counts(probed):
        absent = F.col("url").endswith(ABSENT)
        return probed.groupBy(absent.alias("absent")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_member").cast("long")).alias("members"),
        )

    def _native_bloom_state(self, spark, inp: Inputs) -> bytes:
        return build_native_bloom_state(
            self.pages(spark, inp), "url", capacity=inp.n_rows,
            false_positive_rate=BLOOM_FPR,
        )

    def _windowed_blocks(self, spark, inp: Inputs):
        events = self.pages(spark, inp).withColumn(
            "week", F.weekofyear("warc_ts").cast("long")
        )
        return build_windowed_bloom_blocks_df(
            events, "week", "url",
            capacity_per_level=max(1, inp.n_rows // 4), target_fpr=BLOOM_FPR,
            words_per_block=self.WORDS_PER_BLOCK,
        )

    def _cms_blocks(self, spark, inp: Inputs):
        return build_cms_blocks_df(
            self.pages(spark, inp), "url", eps=CMS_EPS, delta=CMS_DELTA,
            cells_per_block=self.CELLS_PER_BLOCK,
        )

    def job(self, spark, inp: Inputs, job: int):
        kind = self.CYCLE[job % 3]
        probes = self.probes(spark, inp)
        if kind == "membership":
            state = self._native_bloom_state(spark, inp)
            return self._membership_counts(native_bloom_probe(probes, "url", state)).toArrow()
        if kind == "windowed_bloom":
            blocks = self._windowed_blocks(spark, inp).persist()
            try:
                blocks.count()
                probed = windowed_bloom_partitioned_probe(probes, "url", blocks)
                return self._membership_counts(probed).toArrow()
            finally:
                blocks.unpersist()
        blocks = self._cms_blocks(spark, inp).persist()
        try:
            blocks.count()
            return cms_partitioned_probe(probes, "url", blocks).select("url", "est_count").toArrow()
        finally:
            blocks.unpersist()

    def traced_job(self, t: Traced, inp: Inputs, job: int):
        kind = self.CYCLE[job % 3]
        spark = t.spark
        probes = self.probes(spark, inp)
        if kind == "membership":
            # the spec build_native_bloom_state makes for these arguments
            spec = SketchSpec(
                "nbloom", "nbloom", "url",
                {"capacity": inp.n_rows, "false_positive_rate": BLOOM_FPR},
            )
            with t.span("membership.build"):
                # build_native_bloom_state, one span per step of its driver
                # fold; its strategy pick and its bytes are checked, so a
                # library change the copy misses fails the job
                pages = self.pages(spark, inp)
                fanin = _global_strategy(pages, spec, "auto")
                if fanin is not None:
                    raise RuntimeError(
                        f"build_global_state picks tree fanin {fanin}; "
                        "the traced driver fold no longer mirrors it"
                    )
                with t.span("sketch_agg.partials") as sp:
                    parts = sketch_partials(pages, [], [spec]).select(
                        "__pid", spec.state_col
                    )
                    n_parts, counted = _persist_count(parts)
                    t.record(sp, counted)
                    sp.counters["rows_out"] = n_parts
                with t.span("sketch_agg.fold.collect") as sp:
                    tbl = parts.toArrow()
                    t.record(sp, parts)
                    sp.counters["collected_bytes"] = tbl.nbytes
                with t.span("sketch_agg.fold.merge"):
                    rows = sorted(
                        zip(tbl.column("__pid").to_pylist(), tbl.column(spec.state_col).to_pylist())
                    )
                    sk = NativeBloomSketch.from_bytes(rows[0][1])
                    for _, blob in rows[1:]:
                        sk.merge_bytes(blob)
                    state = sk.to_bytes()
                parts.unpersist()
            if state != inp.exact["nbloom_state"]:
                raise RuntimeError("traced fold state differs from build_native_bloom_state's")
            with t.span("membership.probe") as sp:
                out = self._membership_counts(native_bloom_probe(probes, "url", state))
                res = out.toArrow()
                t.record(sp, out)
            return res
        if kind == "windowed_bloom":
            with t.span("windowed_bloom.build") as sp:
                blocks = self._windowed_blocks(spark, inp)
                _, counted = _persist_count(blocks)
                t.record(sp, counted)
            with t.span("windowed_bloom.probe") as sp:
                out = self._membership_counts(
                    windowed_bloom_partitioned_probe(probes, "url", blocks)
                )
                res = out.toArrow()
                t.record(sp, out)
            blocks.unpersist()
            return res
        with t.span("heavy_hitters.build") as sp:
            blocks = self._cms_blocks(spark, inp)
            _, counted = _persist_count(blocks)
            t.record(sp, counted)
        with t.span("heavy_hitters.probe") as sp:
            out = cms_partitioned_probe(probes, "url", blocks).select("url", "est_count")
            res = out.toArrow()
            t.record(sp, out)
        blocks.unpersist()
        return res

    def target_fpr(self, inp: Inputs, kind: str) -> float:
        if kind == "windowed_bloom":
            return oracle.windowed_bound(BLOOM_FPR, inp.exact["levels"])
        return BLOOM_FPR

    def check(self, inp: Inputs, tbl, job: int) -> oracle.Check:
        c = oracle.Check()
        kind = self.CYCLE[job % 3]
        ex = inp.exact
        if kind == "heavy_hitters":
            urls = tbl.column("url").to_pylist()
            est = tbl.column("est_count").to_numpy()
            c.require(len(urls) == 2 * ex["rows_present"], "probe row count")
            truth = np.array([ex["count"].get(u, 0) for u in urls])
            over = est - truth
            c.require(int(over.min()) >= 0, "cms underestimate")
            c.ratio("cms", float(over.max()), CMS_EPS * inp.n_rows)
            # every cell of a CMS this size is hit, so each absent key has
            # a non-zero estimate; report the mean false count instead
            c.details["fp_ratio"] = float(np.mean(est[truth == 0])) / (CMS_EPS * inp.n_rows)
            return c
        got = {r["absent"]: (r["n"], r["members"]) for r in tbl.to_pylist()}
        n_pos, m_pos = got.get(False, (0, 0))
        n_neg, m_neg = got.get(True, (0, 0))
        c.require(n_pos == ex["rows_present"] and n_neg == ex["rows_present"], "probe row count")
        c.require(m_pos == n_pos, f"{kind}: {n_pos - m_pos} false negatives")
        family = "windowed" if kind == "windowed_bloom" else "bloom"
        c.ratio(family, m_neg / max(1, n_neg), self.target_fpr(inp, kind))
        c.details["fp_ratio"] = c.ratios[family]
        return c


WORKLOADS = {w.name: w for w in (RollupHosts(), BuildProbe())}
