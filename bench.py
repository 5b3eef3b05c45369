#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline sketch queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Two input families:

* the driver's TPC-H-ish parquet tables (lineitem/orders/events) — the
  oracle-gated query surface;
* a deterministic Common-Crawl-style ``pages`` table (BASELINE.json
  ``input_hint`` schema), generated once per sf into a /tmp parquet cache
  (generation is NOT timed; reads are, so scans/pruning are realistic).

The north-star metric is sketch-updates/sec: rows absorbed into
HLL+CMS+t-digest+KLL+Bloom states. We report total wall seconds as the
required ``value`` and add ``rows_per_sec`` per query as extra keys.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# pages rows: sf 0.1 -> 1M (mirrors lineitem ~600k at sf0.1, with text payload)
_sf_name = os.path.basename(SF_DIR.rstrip("/"))
try:
    SF = float(_sf_name.replace("sf", ""))
except ValueError:
    SF = 0.1
PAGES_ROWS = max(10_000, int(SF * 10_000_000))
PAGES_PATH = os.environ.get(
    "SPARK_GRAFT_PAGES", f"/tmp/prs_pages_sf{SF}_{PAGES_ROWS}.parquet"
)


def get_spark(cpus: int = CPUS):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"probabilistic-rs-spark-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def ensure_pages(spark) -> None:
    if os.path.exists(os.path.join(PAGES_PATH, "_SUCCESS")):
        return
    from probabilistic_rs_spark.datagen import pages_df

    pages_df(spark, PAGES_ROWS, partitions=CPUS * 4).write.mode("overwrite").parquet(
        PAGES_PATH
    )


# ---------------------------------------------------------------------------
# headline queries — each returns (n_rows_absorbed, result_rows)
# ---------------------------------------------------------------------------

def q_pages_hll_lang_day(spark):
    """North-star #1: distinct urls per (lang, day) via HLL."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.sketch_agg import (
        SketchSpec,
        sketch_aggregate,
        with_hll_estimate,
    )

    pages = spark.read.parquet(PAGES_PATH).select(
        "lang", F.to_date("warc_ts").alias("day"), "url"
    )
    agg = sketch_aggregate(pages, ["lang", "day"], [SketchSpec("u", "hll", "url", {"p": 14})])
    out = with_hll_estimate(agg, "u_state", "n_urls").select("lang", "day", "n_urls")
    rows = out.count()
    return PAGES_ROWS, rows


def q_pages_heavy_hosts(spark):
    """North-star #2: heavy-hitter hostnames, salted CMS."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.heavy_hitters import cms_heavy_hitters

    pages = spark.read.parquet(PAGES_PATH).select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    )
    out = cms_heavy_hitters(
        pages, "host", eps=0.0001, delta=0.001, threshold=int(PAGES_ROWS * 0.002)
    )
    return PAGES_ROWS, out.count()


def q_pages_quantiles(spark):
    """North-star #3: t-digest+KLL quantiles of length(text) and warc_ts."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.sketch_agg import (
        SketchSpec,
        sketch_aggregate,
        with_quantiles,
    )

    pages = spark.read.parquet(PAGES_PATH).select(
        F.length("text").cast("double").alias("text_len"),
        F.unix_micros(F.col("warc_ts").cast("timestamp")).cast("double").alias("ts_us"),
    )
    specs = [
        SketchSpec("len_td", "tdigest", "text_len", {"delta": 200.0}),
        SketchSpec("len_kll", "kll", "text_len", {"k": 200}),
        SketchSpec("ts_td", "tdigest", "ts_us", {"delta": 200.0}),
        SketchSpec("ts_kll", "kll", "ts_us", {"k": 200}),
    ]
    agg = sketch_aggregate(pages, [], specs, tree_fanin=16)
    agg = with_quantiles(agg, "len_td_state", "tdigest", [0.01, 0.5, 0.99], "len_q")
    agg = with_quantiles(agg, "ts_kll_state", "kll", [0.01, 0.5, 0.99], "ts_q")
    return 2 * PAGES_ROWS, agg.select("len_q", "ts_q").count()


def q_pages_bloom_membership(spark):
    """North-star #4: Bloom build over urls + membership probe.

    Native-hash engine (r3): positions from JVM xxhash64 exprs, kernel is
    a bare bit scatter, probe is 100% whole-stage-codegen JVM work. The
    reference-parity murmur/fnv engine stays benchmarked inside
    lineitem_flagship_multisketch and oracle-gated in CORRECTNESS."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.membership import (
        build_native_bloom_state,
        native_bloom_semi_filter,
    )

    pages = spark.read.parquet(PAGES_PATH)
    state = build_native_bloom_state(
        pages, "url", capacity=2 * PAGES_ROWS, false_positive_rate=0.01
    )
    # deterministic ~20% sample, probed in place (stays distributed — a
    # limit() would funnel the probe through one task)
    probes = pages.select("url").where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
    hits = native_bloom_semi_filter(probes, "url", state).count()
    return PAGES_ROWS, hits


def q_pages_cuckoo_membership(spark):
    """North-star #4b: DELETABLE membership at scale — native cuckoo
    shard build over urls (xxhash64 family), then the all-JVM probe
    (shard routing + 2·bucket_size element_at slot tests) over the
    deterministic 20% sample."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.cuckoo import (
        build_cuckoo_shards,
        native_cuckoo_semi_filter,
    )

    pages = spark.read.parquet(PAGES_PATH)
    states = build_cuckoo_shards(
        pages, "url", capacity=2 * PAGES_ROWS, n_shards=32, native=True
    )
    probes = pages.select("url").where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
    hits = native_cuckoo_semi_filter(probes, "url", states).count()
    return PAGES_ROWS, hits


def q_pages_cuckoo_partitioned(spark):
    """North-star #4c: the NON-BROADCAST membership path — shard states
    stay a distributed table and the 20% probe sample SHUFFLES to its
    shard (cogrouped probe). This is the degradation path for filters too
    big to broadcast; benching it alongside the broadcast probe records
    what the scale-correct shape costs at this filter size (one probe
    exchange vs an all-executor broadcast)."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.cuckoo import (
        build_cuckoo_shards_df,
        cuckoo_partitioned_probe,
    )

    pages = spark.read.parquet(PAGES_PATH)
    states = build_cuckoo_shards_df(
        pages, "url", capacity=2 * PAGES_ROWS, n_shards=32
    )
    probes = pages.select("url").where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
    hits = (
        cuckoo_partitioned_probe(probes, "url", states, n_shards=32)
        .where(F.col("is_member"))
        .count()
    )
    return PAGES_ROWS, hits


def q_pages_cms_partitioned(spark):
    """North-star #2b (round 6): the NON-BROADCAST count path — the CMS
    matrix lives as a distributed (row, block, cells) table (built via a
    map-side-combined key pre-aggregation, so the build shuffle is
    bounded by distinct hosts, not rows) and the probe shuffles d cell
    lookups per distinct host. Prices the count family's
    beyond-broadcast-budget shape next to the broadcast CMS number."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.heavy_hitters import (
        build_cms_blocks_df,
        cms_partitioned_probe,
    )

    pages = spark.read.parquet(PAGES_PATH).select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    )
    blocks = build_cms_blocks_df(
        pages, "host", eps=0.0001, delta=0.001, cells_per_block=4096
    ).persist()
    try:
        blocks.count()
        probes = pages.select("host").distinct()
        hits = (
            cms_partitioned_probe(probes, "host", blocks)
            .where(F.col("est_count") >= int(PAGES_ROWS * 0.002))
            .count()
        )
    finally:
        blocks.unpersist()
    return PAGES_ROWS, hits


def q_pages_windowed_partitioned(spark):
    """North-star #4d (round 6): the non-broadcast WINDOWED-Bloom path —
    per-week level bit vectors built directly into a distributed
    (level, block, words) table (no level state ever materialized), 20%
    probe sample computes its KM positions JVM-side and shuffles bit
    tests to their block; per-level AND / cross-level OR recombine. The
    probe-side cost is k+? rows per item through one exchange — what the
    beyond-broadcast-budget degradation costs at this stack size."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.windowed_bloom import (
        build_windowed_bloom_blocks_df,
        windowed_bloom_partitioned_probe,
    )

    pages = spark.read.parquet(PAGES_PATH).withColumn(
        "week", F.weekofyear("warc_ts").cast("long")
    )
    blocks = build_windowed_bloom_blocks_df(
        pages, "week", "url",
        capacity_per_level=2 * PAGES_ROWS, target_fpr=0.01,
        words_per_block=16384,
    ).persist()
    try:
        blocks.count()  # materialize: the num_levels probe walks the table
        # twice (level list, bit-test join; the geometry rides in the words
        # column metadata) — same persist-between-stages convention as the
        # cuckoo/quotient partitioned families
        probes = pages.select("url").where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
        hits = (
            windowed_bloom_partitioned_probe(probes, "url", blocks, num_levels=3)
            .where(F.col("is_member"))
            .count()
        )
    finally:
        blocks.unpersist()
    return PAGES_ROWS, hits


def q_pages_simhash_fingerprints(spark):
    """LLM-pipeline kernel #1 (VERDICT r2 #7): SimHash fingerprints over
    a deterministic 20% page sample — the linear signature stage whose
    throughput the pair join rides on. (The pair JOIN itself is not
    benched on pages: the
    synthetic text draws ~100 words from a ~40-word vocabulary, so nearly
    every doc pair is a true near-duplicate and any pair enumeration is
    quadratic by construction — 22M pairs from a 20% sample, measured.
    Pair-join correctness is oracle-gated on the realistic documents
    table instead.)"""
    from probabilistic_rs_spark.operators.dedup import with_simhash

    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(PAGES_PATH)
        .where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
        .select("url", "text")
    )
    n_rows = docs.count()
    # production hash family (one codegen xxhash64 per word); the md5
    # family — kept for DuckDB-oracle reproducibility — stays gated by
    # the CORRECTNESS queries on the documents table
    out = with_simhash(docs, "url", "text", hash_fn="xxhash64").selectExpr(
        "count(distinct simhash) as n"
    ).head()["n"]
    return n_rows, out


def q_pages_minhash_signatures(spark):
    """LLM-pipeline kernel #2: 128-permutation MinHash signatures over a
    deterministic 20% page sample (the reduceat-vectorized kernel)."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.dedup import minhash_signatures

    docs = (
        spark.read.parquet(PAGES_PATH)
        .where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
        .select("url", "text")
    )
    n = docs.count()
    sigs = minhash_signatures(docs, "url", "text", n=2, num_perm=128)
    # bit_xor: forces full materialization without ANSI long-sum overflow
    out = sigs.selectExpr("bit_xor(sig[0]) as s").head()["s"]
    return n, out


def q_lineitem_flagship(spark):
    """Multi-sketch single pass over lineitem grouped by returnflag."""
    from probabilistic_rs_spark.operators.sketch_agg import (
        SketchSpec,
        sketch_aggregate,
        with_hll_estimate,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n = li.count()
    specs = [
        SketchSpec("orders", "hll", "l_orderkey", {"p": 14}),
        SketchSpec("price_td", "tdigest", "l_extendedprice", {"delta": 200.0}),
        SketchSpec("price_kll", "kll", "l_extendedprice", {"k": 200}),
        SketchSpec("okeys", "bloom", "l_orderkey", {"capacity": 2_000_000}),
        SketchSpec("parts", "cms", "l_partkey", {"eps": 0.0001, "delta": 0.001}),
    ]
    agg = sketch_aggregate(li, ["l_returnflag"], specs)
    agg = with_hll_estimate(agg, "orders_state", "n_orders")
    return 5 * n, agg.select("l_returnflag", "n_orders", "n_updates").count()


def q_events_distinct_users(spark):
    from probabilistic_rs_spark.operators.distinct import approx_distinct

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n = ev.count()
    out = approx_distinct(ev, "user_id", ["event_type"], p=14, out_col="n_users")
    return n, out.count()


def q_pages_mg_hosts(spark):
    """Misra–Gries deterministic heavy hitters (round 7): exact-key top
    hosts with self-certifying undercount bounds, k=2048 far below the
    host cardinality at sf0.1 → genuinely in compaction regime. One scan,
    state-bounded partials, state-sized shuffle — the deterministic
    complement of pages_heavy_hosts' CMS+tracker plan."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.heavy_hitters import mg_topk

    pages = spark.read.parquet(PAGES_PATH).select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    )
    out = mg_topk(pages, "host", k=2048, threshold=int(PAGES_ROWS * 0.002))
    return PAGES_ROWS, out.count()


def q_pages_theta_overlap(spark):
    """Theta/KMV set algebra (round 7): per-lang distinct-host audiences
    in ONE scan (KMV partials through the generic pipeline), then direct
    |A∩B| / |A∪B| / |A\\B| / Jaccard estimates for all 28 lang pairs off
    the state self-join. k=8192 < per-lang host cardinality at sf0.1 →
    genuinely in sampling mode."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.set_ops import theta_overlap, theta_states

    pages = spark.read.parquet(PAGES_PATH).select(
        "lang", F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    )
    states = theta_states(pages, "host", ["lang"], k=8192)
    out = theta_overlap(states, ["lang"])
    return PAGES_ROWS, out.count()


def q_pages_cs_moments(spark):
    """Count sketch + AMS F2 (round 7): unbiased per-host frequency
    estimates AND the host self-join size in one scan — the skew
    statistic a 100 TB join plan reads first. Build through the generic
    pipeline (state-sized shuffle), probe = the zero-Python codegen
    median-of-signed-lookups, F2 off the same state. Host cardinality at
    sf0.1 is far below w=32768, so the work measured is the honest build
    + probe, not estimator noise."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.moments import (
        build_cs_state,
        f2_from_state,
        native_cs_probe,
    )

    pages = spark.read.parquet(PAGES_PATH).select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    )
    state = build_cs_state(pages, "host", eps=0.01, delta=0.001)
    f2 = f2_from_state(state)
    probes = pages.select("host").distinct()
    n = native_cs_probe(probes, "host", state).where(F.col("est_count") > 0).count()
    return PAGES_ROWS, n + int(f2 > 0)


QUERIES = {
    "pages_hll_lang_day": q_pages_hll_lang_day,
    "pages_heavy_hosts": q_pages_heavy_hosts,
    "pages_quantiles": q_pages_quantiles,
    "pages_bloom_membership": q_pages_bloom_membership,
    "pages_cuckoo_membership": q_pages_cuckoo_membership,
    "pages_cuckoo_partitioned": q_pages_cuckoo_partitioned,
    "pages_cms_partitioned": q_pages_cms_partitioned,
    "pages_windowed_partitioned": q_pages_windowed_partitioned,
    "pages_simhash_fingerprints": q_pages_simhash_fingerprints,
    "pages_minhash_signatures": q_pages_minhash_signatures,
    "pages_mg_hosts": q_pages_mg_hosts,
    "pages_theta_overlap": q_pages_theta_overlap,
    "pages_cs_moments": q_pages_cs_moments,
    "lineitem_flagship_multisketch": q_lineitem_flagship,
    "events_distinct_users": q_events_distinct_users,
}


# ---------------------------------------------------------------------------
# per-query input re-warm (VERDICT r3 #1): a preceding query's scan can
# evict THIS query's parquet bytes from the OS page cache (the 200k-row
# full-text dedup scans demonstrably evicted lineitem in BENCH_r03,
# 1.79 s -> 4.25 s); touching the query's own input columns immediately
# before its timed reps makes min-of-reps measure the engine, not the
# page cache. Untimed by construction.
# ---------------------------------------------------------------------------

def _touch_pages(spark) -> None:
    from pyspark.sql import functions as F

    spark.read.parquet(PAGES_PATH).select(
        F.sum(F.length("text")), F.count("url"), F.max("warc_ts"), F.count("lang")
    ).head()


def _touch_lineitem(spark) -> None:
    from pyspark.sql import functions as F

    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.count("l_orderkey"), F.sum("l_extendedprice"), F.count("l_partkey"),
        F.count("l_returnflag")
    ).head()


def _touch_events(spark) -> None:
    from pyspark.sql import functions as F

    spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.count("user_id"), F.count("event_type")
    ).head()


REWARM = {
    "pages_hll_lang_day": _touch_pages,
    "pages_heavy_hosts": _touch_pages,
    "pages_quantiles": _touch_pages,
    "pages_bloom_membership": _touch_pages,
    "pages_cuckoo_membership": _touch_pages,
    "pages_cuckoo_partitioned": _touch_pages,
    "pages_cms_partitioned": _touch_pages,
    "pages_windowed_partitioned": _touch_pages,
    "pages_simhash_fingerprints": _touch_pages,
    "pages_minhash_signatures": _touch_pages,
    "pages_mg_hosts": _touch_pages,
    "pages_theta_overlap": _touch_pages,
    "pages_cs_moments": _touch_pages,
    "lineitem_flagship_multisketch": _touch_lineitem,
    "events_distinct_users": _touch_events,
}


def warmup(spark) -> None:
    """Untimed: spin up Python workers, warm the OS page cache for every
    column the timed queries read, and warm JVM JIT so the first timed
    query doesn't absorb one-time costs."""
    from pyspark.sql import functions as F

    from probabilistic_rs_spark.operators.membership import (
        bloom_probe,
        build_bloom_state,
        build_native_bloom_state,
        native_bloom_probe,
    )
    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate

    # page-cache warm: touch every column the timed queries scan (text is
    # the bulk of the bytes; a count("url") alone leaves it cold)
    spark.read.parquet(PAGES_PATH).select(
        F.sum(F.length("text")), F.count("url"), F.max("warc_ts"), F.count("lang")
    ).head()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.count("l_orderkey"), F.sum("l_extendedprice"), F.count("l_partkey"),
        F.count("l_returnflag")
    ).head()
    spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.count("user_id"), F.count("event_type")
    ).head()
    # UDF-path warm: one tiny pass through each kernel family + the
    # broadcast-probe pandas_udf
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(50_000)
    sketch_aggregate(
        li,
        [],
        [
            SketchSpec("w1", "hll", "l_orderkey", {"p": 12}),
            SketchSpec("w2", "bloom", "l_orderkey", {"capacity": 100_000}),
            SketchSpec("w3", "tdigest", "l_extendedprice", {"delta": 100.0}),
            SketchSpec("w4", "kll", "l_extendedprice", {"k": 200}),
            SketchSpec("w5", "cms", "l_partkey", {"eps": 0.001, "delta": 0.01}),
        ],
    ).head()
    st = build_bloom_state(li, "l_orderkey", capacity=100_000)
    bloom_probe(li.select("l_orderkey"), "l_orderkey", st).where(
        F.col("is_member")
    ).count()
    nst = build_native_bloom_state(li, "l_orderkey", capacity=100_000)
    native_bloom_probe(li.select("l_orderkey"), "l_orderkey", nst).where(
        F.col("is_member")
    ).count()


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    ensure_pages(spark)
    warmup(spark)

    # focused adjudication runs: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts
    # the query set (the driver never sets it — full contract unchanged)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    global QUERIES
    if only:
        keep = [q.strip() for q in only.split(",") if q.strip()]
        unknown = [q for q in keep if q not in QUERIES]
        if unknown:
            raise SystemExit(f"unknown bench queries: {unknown}")
        QUERIES = {name: QUERIES[name] for name in keep}

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # INTERLEAVED rep rounds (the bench_scaling idiom): this host shows
    # minutes-long contention bursts, so back-to-back reps of one query
    # all land inside the same burst and min-of-reps can't escape it;
    # with full rounds over the query list, a burst poisons one round's
    # chunk while the same query's other samples sit minutes away.
    best: dict[str, float] = {}
    rows: dict[str, int] = {}
    # every rep's wall time goes into the record (VERDICT r4 #1 / advice
    # #2): min-of-reps is the headline, but the per-rep spread is what
    # lets a reader distinguish an ambient contention burst (one outlier
    # rep) from a real regression (all reps slow) without re-running
    reps_log: dict[str, list[float]] = {name: [] for name in QUERIES}

    def run_one(name: str) -> None:
        fn = QUERIES[name]
        rewarm = REWARM.get(name)
        if rewarm is not None:
            rewarm(spark)  # untimed: restore this query's page-cache state
        t0 = time.perf_counter()
        n_rows, _ = fn(spark)
        dt = time.perf_counter() - t0
        rows[name] = n_rows
        reps_log[name].append(round(dt, 3))
        if name not in best or dt < best[name]:
            best[name] = dt

    for _ in range(reps):
        for name in QUERIES:
            run_one(name)
    # CONVERGED-TAIL top-up (VERDICT r5 #6): a rep array still falling at
    # its last rep means the recorded min is warmup, not a measurement.
    # Re-run (interleaved) every query whose last rep is >10% above its
    # min until the tail flattens or the per-query rep budget is hit.
    max_reps = max(reps, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPS", "8")))

    def unconverged() -> list[str]:
        out = []
        for name, arr in reps_log.items():
            if len(arr) < max_reps and arr[-1] > 1.10 * min(arr):
                out.append(name)
        return out

    pending = unconverged()
    while pending:
        for name in pending:
            run_one(name)
        pending = unconverged()
    timings = {name: round(best[name], 3) for name in QUERIES}
    rates = {name: round(rows[name] / best[name], 1) for name in QUERIES}

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "sketch_bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_reps": reps_log,
                "sf": SF,
                "cpus": CPUS,
                "pages_rows": PAGES_ROWS,
                "sketch_updates_per_sec": rates,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
