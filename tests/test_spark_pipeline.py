"""Layer 4 (SURVEY.md §5): Spark integration on local[*] — sketch results
vs exact oracles computed with Spark built-ins, on both the driver test
tables and the deterministic synthetic pages table. Covers the four
north-star queries (SURVEY.md §2.9)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from probabilistic_rs_spark.datagen import pages_df
from probabilistic_rs_spark.operators.distinct import approx_distinct
from probabilistic_rs_spark.operators.heavy_hitters import (
    cms_heavy_hitters,
    salted_group_count,
)
from probabilistic_rs_spark.operators.membership import (
    bloom_probe,
    bloom_semi_filter,
    build_bloom_state,
)
from probabilistic_rs_spark.operators.quantiles import approx_quantiles
from probabilistic_rs_spark.operators.sketch_agg import (
    SketchSpec,
    sketch_aggregate,
    with_hll_estimate,
)
from probabilistic_rs_spark.operators.windowed_bloom import (
    probe_recent,
    recent_level_states,
    windowed_bloom_states,
)


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_df(spark, 20_000, partitions=8).cache()
    df.count()
    yield df
    df.unpersist()


# --- north-star query 1: distinct urls per (lang, day) ----------------------

def test_hll_distinct_urls_per_lang_day(spark, pages):
    df = pages.withColumn("day", F.to_date("warc_ts"))
    est = approx_distinct(df, "url", ["lang", "day"], p=12, out_col="est")
    exact = df.groupBy("lang", "day").agg(F.countDistinct("url").alias("exact"))
    joined = est.join(exact, ["lang", "day"]).collect()
    assert len(joined) > 50
    for r in joined:
        # sparse-mode exactness at this scale
        assert r["est"] == r["exact"], (r["lang"], r["day"])


def test_hll_dense_bound_on_pages(spark, pages):
    est_row = approx_distinct(pages, "url", [], p=12, sparse_threshold=0, out_col="est").head()
    exact = pages.select("url").distinct().count()
    assert abs(est_row["est"] - exact) <= 3 * 1.04 / np.sqrt(4096) * exact


# --- north-star query 2: heavy-hitter hostnames ------------------------------

def test_cms_heavy_hitter_hostnames(spark, pages):
    df = pages.withColumn(
        "host", F.regexp_extract("url", r"https://([^/]+)/", 1)
    )
    exact = {
        r["host"]: r["cnt"]
        for r in df.groupBy("host").count().withColumnRenamed("count", "cnt").collect()
    }
    hh = cms_heavy_hitters(df, "host", eps=0.0001, delta=0.001, top_k=10)
    rows = hh.collect()
    assert len(rows) == 10
    exact_top = sorted(exact.values(), reverse=True)[:10]
    got_counts = sorted((r["est_count"] for r in rows), reverse=True)
    # CMS at load ≪ w is exact; top-10 multiset must match exactly
    assert got_counts == exact_top
    for r in rows:
        assert r["est_count"] == exact[r["key"]]


def test_salted_exact_counts_match_plain_groupby(spark, pages):
    df = pages.withColumn("host", F.regexp_extract("url", r"https://([^/]+)/", 1))
    salted = {r["key"]: r["cnt"] for r in salted_group_count(df, "host", 8).collect()}
    plain = {r["host"]: r["count"] for r in df.groupBy("host").count().collect()}
    assert salted == plain


def test_salted_apply_in_pandas_agg_exact_under_skew(spark):
    """The load-bearing salted pattern: applyInPandas has no partial
    aggregation, so the salt is what keeps a hot key's rows off a single
    reducer. Results must equal the built-in aggregates exactly."""
    from probabilistic_rs_spark.operators.heavy_hitters import salted_apply_in_pandas_agg

    df = spark.range(50_000).select(
        F.when(F.col("id") % 10 < 8, F.lit("hot")).otherwise(
            F.concat(F.lit("cold_"), F.col("id") % 97)
        ).alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    got = {
        r["key"]: (r["total"], r["cnt"])
        for r in salted_apply_in_pandas_agg(df, "k", "v", n_salts=8).collect()
    }
    want = {
        r["k"]: (r["t"], r["c"])
        for r in df.groupBy("k").agg(F.sum("v").alias("t"), F.count("*").alias("c")).collect()
    }
    assert set(got) == set(want)
    for k, (t, c) in want.items():
        assert got[k][1] == c
        assert abs(got[k][0] - t) < 1e-6 * max(1.0, abs(t))


def test_bounded_candidate_tracker_memory_is_bounded():
    """Round-1 verdict item #2: the partition-local candidate set must be
    O(candidates_per_partition) at ANY key cardinality. Feed >10^6
    distinct keys through one tracker and assert it never exceeds
    4×capacity, while a genuinely heavy key survives with top rank."""
    from probabilistic_rs_spark.operators.heavy_hitters import BoundedCandidateTracker

    cpp = 256
    tr = BoundedCandidateTracker(cpp)
    rng = np.random.default_rng(7)
    hot_hash = np.uint64(123456789)
    total = 0
    for batch in range(60):
        uniq = (rng.integers(1, 2**62, size=20_000).astype(np.uint64)
                + np.uint64(batch * 10**9))
        hashes = np.concatenate(([hot_hash], np.unique(uniq)))
        counts = np.concatenate(([np.int64(5000)], np.ones(len(hashes) - 1, dtype=np.int64)))
        keys = np.array(["hot"] + [f"k{batch}_{i}" for i in range(len(hashes) - 1)])
        first_idx = np.arange(len(hashes))
        tr.add_unique(hashes, counts, keys, first_idx)
        total += len(hashes)
        assert len(tr) <= 4 * cpp, f"tracker grew to {len(tr)} after {total} keys"
    assert total > 1_000_000
    top = tr.top()
    assert top[0][1][1] == "hot"  # the heavy key survives every prune, ranked first


def test_cms_heavy_hitters_green_under_pruning(spark):
    """End-to-end: a key cardinality far above 4×cpp in one partition
    still returns the true heavy hitters with exact CMS estimates."""
    df = (
        spark.range(120_000)
        .select(
            F.when(F.col("id") % 4 == 0, F.concat(F.lit("heavy_"), F.col("id") % 3))
            .otherwise(F.concat(F.lit("u"), F.col("id")))
            .alias("k")
        )
        .coalesce(1)
    )
    out = {
        r["key"]: r["est_count"]
        for r in cms_heavy_hitters(
            df, "k", eps=0.0001, delta=0.001, candidates_per_partition=64, threshold=5000
        ).collect()
    }
    exact = {
        r["k"]: r["count"]
        for r in df.groupBy("k").count().where(F.col("count") >= 5000).collect()
    }
    assert set(out) == set(exact) and len(exact) == 3
    for k, est in out.items():
        # CMS guarantee: never underestimates, overestimates by <= eps*N
        assert exact[k] <= est <= exact[k] + 0.0001 * 120_000


# --- north-star query 3: quantiles of length(text) and warc_ts ---------------

@pytest.mark.parametrize("kind,params", [("tdigest", {"delta": 200.0}), ("kll", {"k": 200})])
def test_quantiles_text_length_and_ts(spark, pages, kind, params):
    df = pages.select(
        F.length("text").cast("double").alias("text_len"),
        F.unix_timestamp("warc_ts").cast("double").alias("ts_sec"),
    ).cache()
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    est = approx_quantiles(
        df, {"text_len": "text_len", "ts_sec": "ts_sec"}, qs, kind=kind, **params
    )
    rows = {(r["metric"], r["q"]): r["value"] for r in est.collect()}
    n = df.count()
    for metric in ("text_len", "ts_sec"):
        vals = np.sort(np.array([x[0] for x in df.select(metric).collect()]))
        for q in qs:
            got = rows[(metric, q)]
            rank = np.searchsorted(vals, got, side="right") / n
            assert abs(rank - q) <= 0.015, (kind, metric, q, rank)
    df.unpersist()


# --- north-star query 4: membership -----------------------------------------

def test_bloom_membership_semi_join(spark, pages):
    state = build_bloom_state(pages, "url", capacity=50_000, false_positive_rate=0.001)
    members = pages.select("url").distinct()
    probed = bloom_probe(members, "url", state)
    assert probed.where(~F.col("is_member")).count() == 0  # zero FN
    fresh = spark.range(5_000).select(
        F.concat(F.lit("https://never-seen.example.com/x?id="), F.col("id")).alias("url")
    )
    fpr = bloom_probe(fresh, "url", state).where("is_member").count() / 5_000
    assert fpr <= 3 * 0.001


def test_bloom_semi_filter_prunes(spark, pages):
    state = build_bloom_state(pages, "url", capacity=50_000, false_positive_rate=0.001)
    mixed = pages.select("url").union(
        spark.range(10_000).select(F.concat(F.lit("nope_"), F.col("id")).alias("url"))
    )
    kept = bloom_semi_filter(mixed, "url", state)
    assert kept.count() <= pages.count() + 30  # all members + ≤FPR stragglers
    assert kept.count() >= pages.count()


@pytest.mark.parametrize("family", ["bloom", "native_bloom", "quotient", "cuckoo"])
def test_semi_filters_keep_caller_columns(spark, family):
    # a semi filter probes into a reserved column: the caller's own
    # is_member column and its values come through untouched
    from probabilistic_rs_spark.operators import cuckoo, membership, quotient

    df = spark.range(200).select(
        "id",
        F.concat(F.lit("m"), F.col("id")).alias("k"),
        (F.col("id") % 3 == 0).alias("is_member"),
    )
    members = df.where(F.col("id") < 100)
    if family == "bloom":
        state = membership.build_bloom_state(members, "k", capacity=1_000)
        semi = membership.bloom_semi_filter
    elif family == "native_bloom":
        state = membership.build_native_bloom_state(members, "k", capacity=1_000)
        semi = membership.native_bloom_semi_filter
    elif family == "quotient":
        state = quotient.build_quotient_state(members, "k", capacity=1_000)
        semi = quotient.native_quotient_semi_filter
    else:
        state = cuckoo.build_cuckoo_shards(
            members, "k", capacity=1_000, n_shards=2, native=True
        )
        semi = cuckoo.native_cuckoo_semi_filter
    kept = semi(df, "k", state)
    assert kept.columns == df.columns
    rows = kept.collect()
    assert {r["id"] for r in rows} >= set(range(100))  # no false negatives
    assert all(r["is_member"] == (r["id"] % 3 == 0) for r in rows)


# --- multi-sketch single pass + parallelism invariance -----------------------

def test_multi_sketch_single_pass_and_parallelism_invariance(spark, pages):
    # sparse_threshold > per-group distinct count → sparse-exact estimates
    specs = [
        SketchSpec("urls", "hll", "url", {"p": 12, "sparse_threshold": 25_000}),
        SketchSpec("tl", "tdigest", "text_len", {"delta": 100.0}),
        SketchSpec("member", "bloom", "url", {"capacity": 50_000}),
    ]
    df = pages.withColumn("text_len", F.length("text"))
    out_a = sketch_aggregate(df.repartition(4), ["lang"], specs)
    out_b = sketch_aggregate(df.repartition(4), ["lang"], specs)
    rows_a = {r["lang"]: bytes(r["urls_state"]) for r in out_a.collect()}
    rows_b = {r["lang"]: bytes(r["urls_state"]) for r in out_b.collect()}
    # same partitioning → bit-identical HLL states
    diffs = [k for k in rows_a if rows_a[k] != rows_b[k]]
    if diffs:
        from probabilistic_rs_spark.sketches.hll import HyperLogLog

        msgs = []
        for k in diffs[:3]:
            ha = HyperLogLog.from_bytes(rows_a[k])
            hb = HyperLogLog.from_bytes(rows_b[k])
            msgs.append(
                f"{k}: mode {ha.mode}/{hb.mode} est {ha.estimate()}/{hb.estimate()} "
                f"n_upd {ha.n_updates}/{hb.n_updates} sparse {len(ha.sparse)}/{len(hb.sparse)}"
            )
        raise AssertionError("state mismatch: " + "; ".join(msgs))
    est = with_hll_estimate(out_a, "urls_state", "n_urls")
    exact = {
        r["lang"]: r["x"]
        for r in df.groupBy("lang").agg(F.countDistinct("url").alias("x")).collect()
    }
    for r in est.collect():
        assert r["n_urls"] == exact[r["lang"]]


def test_merge_order_invariance_across_partitionings(spark, pages):
    """HLL/Bloom/CMS estimates must be identical whatever the partitioning
    (merge is assoc+comm, and register/bit states are order-free)."""
    est4 = approx_distinct(pages.repartition(4), "url", [], p=12).head()[0]
    est16 = approx_distinct(pages.repartition(16), "url", [], p=12).head()[0]
    assert est4 == est16


# --- windowed (expiring) bloom -----------------------------------------------

def test_windowed_bloom_expiry_semantics(spark, pages):
    states = windowed_bloom_states(
        pages, "warc_ts", "url", "7 days", capacity_per_level=20_000, target_fpr=0.001
    ).cache()
    n_windows = states.count()
    assert n_windows >= 4  # 30-day span / 7-day levels
    levels = recent_level_states(states, num_levels=2)
    assert len(levels) == 2
    lo = min(ws for ws, _, _ in levels)
    recent_urls = pages.where(F.col("warc_ts") >= F.lit(lo)).select("url").distinct()
    old_urls = (
        pages.where(F.col("warc_ts") < F.lit(lo))
        .select("url")
        .distinct()
        .join(recent_urls, "url", "left_anti")
    )
    # zero false negatives within active levels
    pr = probe_recent(recent_urls, "url", levels)
    assert pr.where(~F.col("is_member")).count() == 0
    # expired-window urls mostly absent (bounded by FPR)
    n_old = old_urls.count()
    fp = probe_recent(old_urls, "url", levels).where("is_member").count()
    assert fp <= max(3, 3 * 0.001 * n_old)
    states.unpersist()


# --- state re-aggregation (rollup) + broadcast CMS probe ----------------------

def test_reaggregate_states_matches_direct_aggregation(spark, pages):
    from probabilistic_rs_spark.operators.rollup import reaggregate_states

    spec = SketchSpec("u", "hll", "url", {"p": 12})
    withday = pages.withColumn("day", F.to_date("warc_ts"))
    fine = sketch_aggregate(withday, ["lang", "day"], [spec]).cache()
    fine.count()
    # merge (lang, day) states down to lang — no input rescan
    coarse = reaggregate_states(fine, ["lang", "day"], ["lang"], [spec])
    got = {
        r["lang"]: r["n"]
        for r in with_hll_estimate(coarse, "u_state", "n").select("lang", "n").collect()
    }
    # register-max union is exact algebra: must equal the direct grouping
    direct = sketch_aggregate(withday, ["lang"], [spec])
    want = {
        r["lang"]: r["n"]
        for r in with_hll_estimate(direct, "u_state", "n").select("lang", "n").collect()
    }
    assert got == want
    # and all the way to global
    top = reaggregate_states(fine, ["lang", "day"], [], [spec])
    got_g = with_hll_estimate(top, "u_state", "n").head()["n"]
    want_g = with_hll_estimate(
        sketch_aggregate(pages, [], [spec]), "u_state", "n"
    ).head()["n"]
    assert got_g == want_g
    fine.unpersist()


def test_cms_probe_matches_exact_counts(spark, pages):
    from probabilistic_rs_spark.operators.heavy_hitters import build_cms_state, cms_probe

    hosts = pages.select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    )
    state = build_cms_state(hosts, "host", eps=0.001, delta=0.001)
    exact = hosts.groupBy("host").count()
    probed = cms_probe(exact, "host", state)
    n_total = hosts.count()
    eps_bound = 0.001 * n_total
    bad = probed.where(
        (F.col("est_count") < F.col("count"))  # CMS never underestimates
        | (F.col("est_count") > F.col("count") + F.lit(eps_bound))
    ).count()
    assert bad == 0


def test_hash_reservoir_sample_uniform_and_deterministic(spark):
    from probabilistic_rs_spark.operators.sampling import hash_reservoir_sample

    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("g")
    )
    s1 = hash_reservoir_sample(df, "id", k=10, group_cols=["g"]).collect()
    s2 = hash_reservoir_sample(df.repartition(13), "id", k=10, group_cols=["g"]).collect()
    by_g = {}
    for r in s1:
        by_g.setdefault(r["g"], set()).add(r["id"])
    assert set(by_g) == {"0", "1", "2", "3"}
    assert all(len(v) == 10 for v in by_g.values())
    # partitioning-invariant (priority is a pure function of the id)
    assert {(r["g"], r["id"], r["sample_rank"]) for r in s1} == {
        (r["g"], r["id"], r["sample_rank"]) for r in s2
    }
    # a different seed gives a different sample (md5 avalanche)
    s3 = hash_reservoir_sample(df, "id", k=10, group_cols=["g"], seed="other").collect()
    assert {r["id"] for r in s3} != {r["id"] for r in s1}
    # global variant: distributed top-k plan, exact k rows, rank total order
    g = hash_reservoir_sample(df, "id", k=25).collect()
    assert len(g) == 25 and sorted(r["sample_rank"] for r in g) == list(range(1, 26))


def test_hash_reservoir_sample_is_statistically_uniform(spark):
    """Chi-square-ish sanity: sampling 500 of 10k ids ~uniformly should
    cover both halves of the id range roughly evenly."""
    from probabilistic_rs_spark.operators.sampling import hash_reservoir_sample

    df = spark.range(10_000).select(F.col("id"))
    s = hash_reservoir_sample(df, "id", k=500).collect()
    low = sum(1 for r in s if r["id"] < 5000)
    assert 180 <= low <= 320  # ~250 expected; 6-sigma-ish band


def test_hll_intersection_matches_exact_in_sparse_mode(spark):
    from probabilistic_rs_spark.operators.rollup import with_hll_intersection
    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate

    # two overlapping user populations: A = 0..999, B = 500..1499
    df = spark.range(2000).select(
        F.when(F.col("id") < 1000, F.lit("A")).otherwise(F.lit("B")).alias("t"),
        F.when(F.col("id") < 1000, F.col("id")).otherwise(F.col("id") - 500).alias("u"),
    )
    spec = SketchSpec("s", "hll", "u", {"p": 14})
    st = sketch_aggregate(df, ["t"], [spec])
    a = st.where("t = 'A'").select(F.col("s_state").alias("sa"))
    b = st.where("t = 'B'").select(F.col("s_state").alias("sb"))
    row = with_hll_intersection(a.crossJoin(b), "sa", "sb").head()
    assert row["n_intersection"] == 500  # exact in sparse mode


def test_hash_weighted_sample_bias_and_determinism(spark):
    from probabilistic_rs_spark.operators.sampling import hash_weighted_sample

    # two strata: ids 0..999 weight 9.0, ids 1000..9999 weight 1.0 —
    # A-ES inclusion ~ proportional to weight, so the heavy 10% of rows
    # should take a clear majority of a k=400 sample
    df = spark.range(10_000).select(
        F.col("id"), F.when(F.col("id") < 1000, F.lit(9.0)).otherwise(F.lit(1.0)).alias("w")
    )
    s = hash_weighted_sample(df, "id", "w", k=400).collect()
    assert len(s) == 400
    heavy = sum(1 for r in s if r["id"] < 1000)
    # equal total mass (1000x9 vs 9000x1) -> ~half the sample comes from
    # the heavy 10% of rows (slightly less from depletion); an unweighted
    # sample would give ~40. Wide 6-sigma-ish band around ~195.
    assert 140 <= heavy <= 260
    # partitioning invariance
    s2 = hash_weighted_sample(df.repartition(17), "id", "w", k=400).collect()
    assert {(r["id"], r["sample_rank"]) for r in s} == {(r["id"], r["sample_rank"]) for r in s2}
    # zero/negative weights excluded
    df2 = spark.range(100).select(
        F.col("id"), F.when(F.col("id") < 50, F.lit(0.0)).otherwise(F.lit(1.0)).alias("w")
    )
    s3 = hash_weighted_sample(df2, "id", "w", k=100).collect()
    assert len(s3) == 50 and all(r["id"] >= 50 for r in s3)


def test_tdigest_cdf_probe_matches_exact_ranks(spark):
    from probabilistic_rs_spark.operators.quantiles import (
        build_tdigest_state,
        tdigest_cdf_probe,
    )

    df = spark.range(50_000).select((F.col("id") % 10_000).cast("double").alias("v"))
    state = build_tdigest_state(df, "v", delta=200.0)
    pts = [(100.0,), (2500.0,), (5000.0,), (9000.0,), (9999.0,)]
    probes = spark.createDataFrame(pts, "v double")
    got = {r["v"]: r["cdf"] for r in tdigest_cdf_probe(probes, "v", state).collect()}
    for (p,) in pts:
        exact = (int(p) + 1) / 10_000.0  # values uniform over 0..9999
        assert abs(got[p] - exact) <= 0.01, (p, got[p], exact)


_KEY = st.one_of(st.none(), st.text("abé", max_size=3))


class TestNativeCmsProbe:
    """JVM-expression CMS point probe (``cms_probe`` is the same
    function): estimates equal to the numpy core's, zero Python in the
    per-row plan."""

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
    )
    @given(
        keys=st.lists(_KEY, min_size=1, max_size=120),
        absent=st.lists(_KEY, max_size=30),
    )
    def test_agrees_with_python_kernel(self, spark, keys, absent):
        from probabilistic_rs_spark.operators.heavy_hitters import (
            build_cms_state,
            cms_probe,
            native_cms_probe,
        )
        from probabilistic_rs_spark.sketches.cms import CountMinSketch

        assert cms_probe is native_cms_probe
        df = spark.createDataFrame([(k,) for k in keys], "k string").repartition(3)
        # a narrow sketch, so collisions make the estimates differ from
        # the exact counts
        state = build_cms_state(df, "k", eps=0.05, delta=0.05)
        probes = spark.createDataFrame(
            list(enumerate(keys + absent)), "i int, k string"
        ).withColumn("h", F.xxhash64(F.col("k").cast("string")))
        got = native_cms_probe(probes, "k", state).collect()
        # the numpy core over the driver-collected hashes of the same rows
        hashes = np.array([r["h"] for r in got], dtype=np.int64).view(np.uint64)
        want = CountMinSketch.from_bytes(state).estimate_hashes(hashes)
        assert [r["est_count"] for r in got] == want.astype(np.int64).tolist()
        # CMS guarantee: never under-estimates a present key (null too)
        est = {r["k"]: r["est_count"] for r in got}
        assert all(est[k] >= keys.count(k) for k in keys)

    def test_plan_is_jvm_only(self, spark):
        from pyspark.sql import functions as F

        from probabilistic_rs_spark.operators.heavy_hitters import (
            build_cms_state,
            native_cms_probe,
        )

        df = spark.range(0, 5_000).select(F.col("id").cast("string").alias("k"))
        state = build_cms_state(df, "k", eps=0.01, delta=0.05)
        plan = native_cms_probe(df, "k", state)._jdf.queryExecution().executedPlan().toString()
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert marker not in plan, f"python boundary in probe plan: {marker}"


class TestNativeWindowedBloom:
    """engine='native' windowed levels + the all-JVM multi-level probe."""

    def _states(self, spark):
        from pyspark.sql import functions as F

        from probabilistic_rs_spark.operators.windowed_bloom import (
            recent_level_states,
            windowed_bloom_states,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        states = windowed_bloom_states(
            ev, "ts", "user_id", "7 days", capacity_per_level=50_000,
            engine="native",
        )
        return ev, recent_level_states(states, num_levels=3)

    def test_matches_per_level_or_and_zero_fn(self, spark):
        from pyspark.sql import functions as F

        from probabilistic_rs_spark.operators.membership import native_bloom_probe
        from probabilistic_rs_spark.operators.windowed_bloom import (
            native_probe_recent,
        )

        ev, levels = self._states(spark)
        probes = ev.select("user_id").distinct()
        got = {
            r["user_id"]: r["is_member"]
            for r in native_probe_recent(probes, "user_id", levels).collect()
        }
        # cross-check: OR of single-level native probes
        want = {r["user_id"]: False for r in probes.collect()}
        for _, _, blob in levels:
            for r in native_bloom_probe(probes, "user_id", blob).collect():
                want[r["user_id"]] = want[r["user_id"]] or r["is_member"]
        assert got == want
        # zero FN for users in the 3 most recent windows
        lo = min(ws for ws, _, _ in levels)
        recent = {
            r["user_id"]
            for r in ev.where(F.col("ts") >= F.lit(lo)).select("user_id").distinct().collect()
        }
        assert all(got[u] for u in recent)

    def test_plan_is_jvm_only_and_families_unmixable(self, spark):
        import pytest as _pytest

        from probabilistic_rs_spark.errors import SketchStateError
        from probabilistic_rs_spark.operators.windowed_bloom import (
            native_probe_recent,
            probe_recent,
        )

        ev, levels = self._states(spark)
        probes = ev.select("user_id").distinct()
        plan = native_probe_recent(probes, "user_id", levels)._jdf.queryExecution().executedPlan().toString()
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert marker not in plan, f"python boundary in probe plan: {marker}"
        # probing native-built levels with the parity kernel must raise,
        # not silently mis-probe (distinct wire tags). The kernel runs
        # executor-side, so the SketchStateError arrives wrapped in
        # Spark's PythonException — match on the message instead.
        with _pytest.raises(Exception, match="sketch type mismatch"):
            probe_recent(probes, "user_id", levels).collect()


class TestNativeTdigestCdfProbe:
    """Resampled-CDF JVM probe: within the digest's own error scale of
    the exact pandas kernel, Python-free plan, exact clamp semantics."""

    def test_close_to_exact_kernel_and_plan(self, spark):
        from pyspark.sql import functions as F

        from probabilistic_rs_spark.operators.quantiles import (
            build_tdigest_state,
            native_tdigest_cdf_probe,
            tdigest_cdf_probe,
        )

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        state = build_tdigest_state(li, "l_extendedprice")
        probes = li.select(F.col("l_extendedprice").alias("v")).limit(2000)
        exact = {r["v"]: r["cdf"] for r in tdigest_cdf_probe(probes, "v", state).collect()}
        fast = {r["v"]: r["cdf"] for r in native_tdigest_cdf_probe(probes, "v", state).collect()}
        assert set(exact) == set(fast)
        worst = max(abs(exact[v] - fast[v]) for v in exact)
        assert worst < 0.005, worst  # well inside delta-200 rank error
        plan = native_tdigest_cdf_probe(probes, "v", state)._jdf.queryExecution().executedPlan().toString()
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert marker not in plan

    def test_clamps_nulls_and_empty_digest(self, spark):
        from pyspark.sql import functions as F

        from probabilistic_rs_spark.operators.quantiles import (
            build_tdigest_state,
            native_tdigest_cdf_probe,
        )
        from probabilistic_rs_spark.sketches.tdigest import TDigest

        df = spark.range(0, 1000).select((F.col("id") * 1.0).alias("v"))
        state = build_tdigest_state(df, "v")
        probes = spark.createDataFrame(
            [(-5.0,), (0.0,), (999.0,), (10_000.0,), (None,)], "v double"
        )
        got = {r["v"]: r["cdf"] for r in native_tdigest_cdf_probe(probes, "v", state).collect()}
        assert got[-5.0] == 0.0 and got[0.0] == 0.0
        assert got[999.0] == 1.0 and got[10_000.0] == 1.0
        assert got[None] is None
        import math

        empty = TDigest(200.0).to_bytes()
        got2 = [r["cdf"] for r in native_tdigest_cdf_probe(probes, "v", empty).collect()]
        assert all(g is None or math.isnan(g) for g in got2)
