"""Driver contract for the spark-graft builder (PySpark target).

Queries exercise the sketch library end-to-end on the driver's parquet
tables. Two oracle styles:

* **exact-match**: queries whose sketch output is deterministically exact
  at sf=0.01 operating points (HLL sparse mode = distinct-hash count; CMS
  at load ≪ width; Bloom zero-false-negative probes with FPR sized so the
  expected false-positive count is ≪ 1 — verified deterministic locally).
* **bound-verdict**: queries where approximation is inherent (dense HLL,
  t-digest/KLL rank error, measured FPR gates). The Spark side computes
  BOTH the estimate and the exact value and returns whether the published
  bound holds; the oracle asserts the verdict is TRUE for every group.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one pass over lineitem absorbing rows into HLL + t-digest
    + KLL + Bloom partial states per l_returnflag, merged, estimated."""
    from probabilistic_rs_spark.operators.sketch_agg import (
        SketchSpec,
        sketch_aggregate,
        with_hll_estimate,
        with_quantiles,
    )

    li = _t(spark, "/root/testdata/sf0.001", "lineitem")
    specs = [
        SketchSpec("orders", "hll", "l_orderkey", {"p": 14}),
        SketchSpec("price_td", "tdigest", "l_extendedprice", {"delta": 200.0}),
        SketchSpec("price_kll", "kll", "l_extendedprice", {"k": 200}),
        SketchSpec("okeys", "bloom", "l_orderkey", {"capacity": 100_000}),
    ]
    agg = sketch_aggregate(li, ["l_returnflag"], specs)
    agg = with_hll_estimate(agg, "orders_state", "approx_distinct_orders")
    agg = with_quantiles(agg, "price_td_state", "tdigest", [0.5, 0.99], "price_q")
    return agg.select(
        "l_returnflag",
        "n_updates",
        "approx_distinct_orders",
        F.element_at("price_q", 1).alias("price_p50"),
        F.element_at("price_q", 2).alias("price_p99"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_hll_users_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.distinct import approx_distinct

    ev = _t(spark, sf_dir, "events")
    return approx_distinct(ev, "user_id", ["event_type"], p=14, out_col="n_distinct_users").select(
        "event_type", "n_distinct_users"
    )


def _q_hll_custkey_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.distinct import approx_distinct

    orders = _t(spark, sf_dir, "orders")
    return approx_distinct(orders, "o_custkey", [], p=14, out_col="n_distinct_custkey").select(
        "n_distinct_custkey"
    )


def _q_hll_dense_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-mode HLL (sparse disabled) vs exact, 3-sigma bound verdict."""
    from probabilistic_rs_spark.operators.distinct import approx_distinct

    li = _t(spark, sf_dir, "lineitem")
    p = 12
    est = approx_distinct(
        li, "l_orderkey", ["l_returnflag"], p=p, sparse_threshold=0, out_col="est"
    )
    exact = li.groupBy("l_returnflag").agg(F.countDistinct("l_orderkey").alias("exact"))
    bound = 3.0 * 1.04 / float(np.sqrt(1 << p))
    return (
        est.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            (F.abs(F.col("est") - F.col("exact")) <= F.lit(bound) * F.col("exact")).alias(
                "within_bound"
            ),
        )
    )


def _q_cms_heavy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.heavy_hitters import cms_heavy_hitters

    li = _t(spark, sf_dir, "lineitem")
    return cms_heavy_hitters(
        li, "l_partkey", eps=0.0001, delta=0.001, threshold=45
    ).select("key", "est_count")


def _q_cms_partitioned_probe_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-BROADCAST CMS point probe (round 6): the d×w count matrix
    lives as a distributed (row, block, cells) table built without ever
    materializing the matrix (keys pre-aggregate map-side, cells
    scatter-sum per block); probe keys compute their d KM cells in
    codegen and shuffle one lookup per (row, block), min-combined per
    key. Same hash family and cell derivation as cms_probe /
    native_cms_probe — identical estimates by construction; exact on
    this data (event_type cardinality ≪ w), so the exact-count oracle
    hash-matches. Replaces the former cms_event_type_counts slot (its
    cms_heavy_hitters surface stays gated by cms_heavy_parts)."""
    from probabilistic_rs_spark.operators.heavy_hitters import (
        build_cms_blocks_df,
        cms_partitioned_probe,
    )

    ev = _t(spark, sf_dir, "events")
    blocks = build_cms_blocks_df(
        ev, "event_type", eps=0.001, delta=0.001, cells_per_block=512
    )
    # lazy-DataFrame contract like every other query (ADVICE r6): the
    # probe plans from the cells column's geometry metadata with no job
    # and persists the blocks internally (common.ensure_persisted,
    # LRU-bounded) so the build runs once however many times the harness
    # walks the result — no driver collect() round-trip needed.
    probes = ev.select("event_type").distinct()
    return cms_partitioned_probe(probes, "event_type", blocks).select(
        F.col("event_type").alias("key"), "est_count"
    )


def _q_salted_exact_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.heavy_hitters import salted_group_count

    li = _t(spark, sf_dir, "lineitem")
    return salted_group_count(li, "l_suppkey", n_salts=16).where(F.col("cnt") >= 650)


def _q_bloom_members_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join, BOTH hash families in one gate (round-7
    consolidation freeing a driver slot under the 50-query cap, the r6
    precedent): which probe keys are in orders.o_custkey, answered by the
    reference-parity murmur3+fnv pandas probe AND the native JVM-codegen
    xxhash64-KM probe (operators/membership.py). Probe set = real
    customers (zero false negatives guaranteed, both families) + shifted
    never-present keys (FPR sized so expected FP ≈ 0.02 per family —
    deterministically zero on this data, verified). Output = full outer
    join of the two member sets with per-family flags: a false positive,
    false negative, or family divergence each breaks the row set or a
    flag, so the oracle hash gates both families."""
    from probabilistic_rs_spark.operators.membership import (
        bloom_probe,
        build_bloom_state,
        build_native_bloom_state,
        native_bloom_probe,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    # capacity from the shuffle-free row count: Bloom only needs a
    # capacity >= n_distinct, so the cheap upper bound replaces a full
    # distinct().count() scan+shuffle of the build table
    n = orders.count()
    state = build_bloom_state(
        orders, "o_custkey", capacity=max(1000, n), false_positive_rate=0.00001
    )
    nstate = build_native_bloom_state(
        orders, "o_custkey", capacity=max(1000, n), false_positive_rate=0.00001
    )
    probes = customer.select(F.col("c_custkey").alias("custkey")).union(
        customer.select((F.col("c_custkey") + F.lit(10_000_000)).alias("custkey"))
    )
    parity = (
        bloom_probe(probes, "custkey", state)
        .where(F.col("is_member"))
        .select("custkey")
        .distinct()
        .withColumn("parity_member", F.lit(True))
    )
    native = (
        native_bloom_probe(probes, "custkey", nstate)
        .where(F.col("is_member"))
        .select("custkey")
        .distinct()
        .withColumn("native_member", F.lit(True))
    )
    return parity.join(native, "custkey", "full").select(
        "custkey",
        F.coalesce("parity_member", F.lit(False)).alias("parity_member"),
        F.coalesce("native_member", F.lit(False)).alias("native_member"),
    )


def _q_quotient_members_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last structure on the reference's planned list
    (specs/overview.md:20-24) end-to-end: quotient filter built over
    orders' custkeys through the generic sketch_aggregate partial/merge
    (its sorted-run union is truly associative — unlike cuckoo), DELETE
    the present multiples of 3 (set-style remove-all, executor-prefiltered
    feed), then probe members + never-present keys. Output = exact
    surviving member set (fpr 1e-8 → expected FP ≈ 0, deterministic; zero
    false negatives by construction)."""
    from probabilistic_rs_spark.operators.quotient import (
        build_quotient_state,
        quotient_delete,
        quotient_probe,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    state = build_quotient_state(
        orders, "o_custkey", capacity=orders.count(), false_positive_rate=1e-8
    )
    doomed = customer.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k")
    )
    state, _ = quotient_delete(state, doomed, "k")
    probes = customer.select(F.col("c_custkey").alias("custkey")).union(
        customer.select((F.col("c_custkey") + F.lit(10_000_000)).alias("custkey"))
    )
    return (
        quotient_probe(probes, "custkey", state)
        .where(F.col("is_member"))
        .select("custkey")
        .distinct()
    )


def _q_quotient_partitioned_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quotient filter's NON-BROADCAST family (round 5): shard states
    are a distributed table keyed by fingerprint PREFIX — each shard is a
    contiguous slice of the global sorted run, so the two families are
    two physical layouts of one logical filter (folding the shards
    reproduces ``build_quotient_state``'s bytes bit-identically; asserted
    in tests). Deletion shuffles keys to their prefix shard
    (``quotient_delete_df``), the probe cogroups each slice with its
    shard (``quotient_partitioned_probe``). Same member set as
    ``quotient_members_after_delete``; fpr 1e-8 → expected FP ≈ 0,
    deterministic."""
    from probabilistic_rs_spark.operators.quotient import (
        build_quotient_shards_df,
        quotient_delete_df,
        quotient_partitioned_probe,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    states = build_quotient_shards_df(
        orders, "o_custkey", capacity=orders.count(), false_positive_rate=1e-8,
        shard_bits=3,
    )
    doomed = customer.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k")
    )
    states = quotient_delete_df(states, doomed, "k")
    probes = customer.select(F.col("c_custkey").alias("custkey")).union(
        customer.select((F.col("c_custkey") + F.lit(10_000_000)).alias("custkey"))
    )
    return (
        quotient_partitioned_probe(probes, "custkey", states)
        .where(F.col("is_member"))
        .select("custkey")
        .distinct()
    )


def _q_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV set algebra (round 7, sketches/theta.py — Dasgupta et
    al. 2016): per-event-type KMV states over user_id built in ONE scan
    through the generic partial/merge pipeline, then DIRECT intersection
    / union / A-not-B / Jaccard estimates between every audience pair off
    the coordinated samples (operators/set_ops.py:theta_overlap — a
    self-join of the tiny state table, never the data). This is the set
    algebra the HLL family cannot express: hll_event_type_user_overlap's
    inclusion–exclusion degrades when |A ∩ B| ≪ |A ∪ B|, theta's direct
    sample estimate does not, and A-not-B / Jaccard have no HLL form at
    all. k=4096 ≫ the 150 distinct users at sf0.01 → every state is in
    exact mode, so all estimates are exact integers and the exact-SQL
    oracle hash-matches (estimate-mode accuracy is gated in
    tests/test_theta.py and generatively in tests/test_properties.py)."""
    from probabilistic_rs_spark.operators.set_ops import theta_overlap, theta_states

    ev = _t(spark, sf_dir, "events")
    states = theta_states(ev, "user_id", ["event_type"], k=4096)
    return (
        theta_overlap(states, ["event_type"])
        .where(F.col("n_intersection") > 0)
        .select(
            "event_type_a",
            "event_type_b",
            "n_a",
            "n_b",
            "n_intersection",
            "n_union",
            "n_a_not_b",
            "jaccard",
        )
    )


def _q_bloom_fpr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own accuracy gates, distributed: zero false
    negatives (tests/core_bloom_filter_tests.rs:402-420) and measured FPR
    <= 3x target at ~50% fill over 2000 probes (:461-467)."""
    from probabilistic_rs_spark.operators.membership import (
        bloom_probe,
        build_bloom_state,
    )

    orders = _t(spark, sf_dir, "orders")
    target = 0.05
    # o_orderkey is the table's key: row count == distinct count, and
    # count() is shuffle-free where distinct().count() is a full shuffle
    n = orders.count()
    state = build_bloom_state(
        orders, "o_orderkey", capacity=2 * n, false_positive_rate=target
    )
    members = orders.select(F.col("o_orderkey").cast("string").alias("probe"))
    fn_count = (
        bloom_probe(members, "probe", state).where(~F.col("is_member")).count()
    )
    nonmembers = spark.range(2000).select(
        F.concat(F.lit("never_inserted_"), F.col("id")).alias("probe")
    )
    fp_count = bloom_probe(nonmembers, "probe", state).where(F.col("is_member")).count()
    fpr = fp_count / 2000.0
    return spark.createDataFrame(
        [(fn_count == 0, bool(fpr <= 3.0 * target))],
        "no_false_negatives boolean, fpr_ok boolean",
    )


def _q_bloom_semi_filter_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-semi-join pre-filter (the Bloom filter's whole purpose
    at 100 TB, SURVEY.md §2.7): lineitem rows are pre-filtered map-side by
    a broadcast Bloom over urgent orders' keys BEFORE the exact semi-join;
    the exact join removes the ≤FPR false positives, so the output is
    exact while the join's shuffle input shrinks by ~the selectivity."""
    from probabilistic_rs_spark.operators.membership import (
        bloom_semi_filter,
        build_bloom_state,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    state = build_bloom_state(
        urgent, "o_orderkey", capacity=max(1000, urgent.count()), false_positive_rate=0.001
    )
    pre = bloom_semi_filter(li, "l_orderkey", state)
    exact = pre.join(
        F.broadcast(urgent.select("o_orderkey")),
        pre["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("sum_qty")
    )


def _q_bloom_incremental_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume-then-estimate over the chunk-addressed incremental
    checkpoint (reference's headline persistence feature,
    src/bloom/filter.rs:221-243 + benches/bloom_fjall_benchmarks.rs:26-63):
    orders are absorbed in two units with a dirty-chunk-only snapshot after
    each; the filter is then RELOADED from chunk rows and probed. Output =
    exact member set (FPR sized so expected FPs ≈ 0, verified
    deterministic)."""
    import shutil
    import tempfile

    from probabilistic_rs_spark.chunkstore import BloomChunkStore, IncrementalBloomCheckpoint
    from probabilistic_rs_spark.operators.membership import bloom_probe
    from probabilistic_rs_spark.sketches.bloom import BloomConfig

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    n = orders.count()
    tmp = tempfile.mkdtemp(prefix="prs_incr_ckpt_")
    try:
        ck = IncrementalBloomCheckpoint(
            tmp, "o_custkey", BloomConfig(capacity=max(1000, n), false_positive_rate=0.00001)
        )
        readers = {
            "even": lambda s, u: orders.where(F.col("o_orderkey") % 2 == 0),
            "odd": lambda s, u: orders.where(F.col("o_orderkey") % 2 == 1),
        }
        ck.run_units(spark, ["even", "odd"], reader=lambda s, u: readers[u](s, u))
        # resume path: reconstruct the filter purely from persisted chunk rows
        _, loaded = BloomChunkStore.load(ck.store_path)
        probes = customer.select(F.col("c_custkey").alias("custkey")).union(
            customer.select((F.col("c_custkey") + F.lit(10_000_000)).alias("custkey"))
        )
        out = (
            bloom_probe(probes, "custkey", loaded.to_bytes())
            .where(F.col("is_member"))
            .select("custkey")
            .distinct()
        )
        out = spark.createDataFrame(out.collect(), out.schema)  # materialize before tmp cleanup
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_cuckoo_members_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's next planned structure (specs/overview.md:20-21)
    exercised end-to-end: shard-parallel cuckoo build over orders'
    custkeys, DELETE the present multiples of 3 (the operation Bloom
    cannot do), then probe members + never-present keys. Output = exact
    surviving member set (24-bit fingerprints: expected FP ≈ 0,
    deterministic; zero false negatives by construction)."""
    from probabilistic_rs_spark.operators.cuckoo import (
        build_cuckoo_shards,
        cuckoo_delete,
        cuckoo_probe,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    states = build_cuckoo_shards(
        orders, "o_custkey", capacity=orders.count(), n_shards=8
    )
    doomed = (
        customer.where(F.col("c_custkey") % 3 == 0)
        .select(F.col("c_custkey").alias("k"))
        .join(
            orders.select(F.col("o_custkey").alias("k")).distinct(), "k", "left_semi"
        )
    )
    states, _ = cuckoo_delete(states, doomed, "k")
    probes = customer.select(F.col("c_custkey").alias("custkey")).union(
        customer.select((F.col("c_custkey") + F.lit(10_000_000)).alias("custkey"))
    )
    return (
        cuckoo_probe(probes, "custkey", states)
        .where(F.col("is_member"))
        .select("custkey")
        .distinct()
    )


def _q_native_cuckoo_members_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cuckoo delete round-trip on the NATIVE family (round 4):
    shards built with xxhash64-derived buckets (numpy xxh64_long mirrors
    the JVM expressions bit-for-bit), deletion executor-side, then the
    surviving member set probed with ZERO Python per row
    (``native_cuckoo_probe`` — 2·bucket_size ``element_at`` tests against
    one broadcast row of flattened shard tables)."""
    from probabilistic_rs_spark.operators.cuckoo import (
        build_cuckoo_shards,
        cuckoo_delete,
        native_cuckoo_probe,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    states = build_cuckoo_shards(
        orders, "o_custkey", capacity=orders.count(), n_shards=8, native=True
    )
    doomed = (
        customer.where(F.col("c_custkey") % 3 == 0)
        .select(F.col("c_custkey").alias("k"))
        .join(
            orders.select(F.col("o_custkey").alias("k")).distinct(), "k", "left_semi"
        )
    )
    states, _ = cuckoo_delete(states, doomed, "k")
    probes = customer.select(F.col("c_custkey").alias("custkey")).union(
        customer.select((F.col("c_custkey") + F.lit(10_000_000)).alias("custkey"))
    )
    return (
        native_cuckoo_probe(probes, "custkey", states)
        .where(F.col("is_member"))
        .select("custkey")
        .distinct()
    )


def _q_cuckoo_partitioned_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-BROADCAST cuckoo family end-to-end (round 5): shard states
    stay a distributed DataFrame (``build_cuckoo_shards_df`` — no driver
    collect, no byte budget), deletion shuffles its keys to their shard
    (``cuckoo_delete_df``), and the probe COGROUPS each probe slice with
    its single shard state (``cuckoo_partitioned_probe``) — per-task
    memory is one shard + one slice however large the filter. Same
    deletion semantics and member set as the broadcast family
    (``cuckoo_members_after_delete``), verdict-identical by construction
    (same routing hash, same contains kernel)."""
    from probabilistic_rs_spark.operators.cuckoo import (
        build_cuckoo_shards_df,
        cuckoo_delete_df,
        cuckoo_partitioned_probe,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    states = build_cuckoo_shards_df(
        orders, "o_custkey", capacity=orders.count(), n_shards=8
    )
    doomed = (
        customer.where(F.col("c_custkey") % 3 == 0)
        .select(F.col("c_custkey").alias("k"))
        .join(
            orders.select(F.col("o_custkey").alias("k")).distinct(), "k", "left_semi"
        )
    )
    states = cuckoo_delete_df(states, doomed, "k")
    probes = customer.select(F.col("c_custkey").alias("custkey")).union(
        customer.select((F.col("c_custkey") + F.lit(10_000_000)).alias("custkey"))
    )
    return (
        cuckoo_partitioned_probe(probes, "custkey", states)
        .where(F.col("is_member"))
        .select("custkey")
        .distinct()
    )


def _q_cuckoo_ops_log_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a deletable membership set (round 5):
    a 3-generation ops log — inserts, more inserts, then a retraction
    feed (the GDPR-purge shape) — folded into the DISTRIBUTED shard
    table with ``cuckoo_apply_ops_df``, starting from an EMPTY state.
    Each generation's output is materialized and fed to the next (the
    versioned-state-table pattern); the final generation is probed with
    the cogrouped partitioned probe. Output = exact surviving member set
    (24-bit fingerprints → expected FP ≈ 0, deterministic)."""
    from probabilistic_rs_spark.operators.cuckoo import (
        cuckoo_apply_ops_df,
        cuckoo_partitioned_probe,
    )

    customer = _t(spark, sf_dir, "customer")
    cap = customer.count()

    def ops(pred, op):
        return customer.where(pred).select(
            F.lit(op).alias("op"), F.col("c_custkey").alias("key")
        )

    gens = [
        ops(F.col("c_custkey") % 3 == 0, "insert"),
        ops(F.col("c_custkey") % 3 == 1, "insert"),
        ops(F.col("c_custkey") % 6 == 0, "delete"),
    ]
    states = None
    persisted = []
    try:
        for g in gens:
            # n_shards only picks geometry for the empty-state first fold;
            # later generations read the states' self-describing column
            # (round 6: the old default-32 short-circuit misrouted here)
            states = cuckoo_apply_ops_df(
                states, g, "key", capacity=cap,
                n_shards=8 if states is None else None,
            ).persist()
            states.count()  # materialize this generation before the next
            persisted.append(states)
        probes = customer.select(F.col("c_custkey").alias("custkey")).union(
            customer.select((F.col("c_custkey") + F.lit(10_000_000)).alias("custkey"))
        )
        out = (
            cuckoo_partitioned_probe(probes, "custkey", states)
            .where(F.col("is_member"))
            .select("custkey")
            .distinct()
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        for df in persisted:
            try:
                df.unpersist()
            except Exception:
                pass


def _q_quotient_ops_log_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops-log fold on the quotient family (round 5): same
    3-generation insert/insert/retract feed as ``cuckoo_ops_log_members``
    but folded into the prefix-sharded quotient table
    (``quotient_apply_ops_df``) — set-style remove-all deletes, shards
    created on first insert, bit-identical-fold property preserved across
    generations. fpr 1e-8 → exact surviving member set."""
    from probabilistic_rs_spark.operators.quotient import (
        quotient_apply_ops_df,
        quotient_partitioned_probe,
    )

    customer = _t(spark, sf_dir, "customer")
    cap = customer.count()

    def ops(pred, op):
        return customer.where(pred).select(
            F.lit(op).alias("op"), F.col("c_custkey").alias("key")
        )

    gens = [
        ops(F.col("c_custkey") % 3 == 0, "insert"),
        ops(F.col("c_custkey") % 3 == 1, "insert"),
        ops(F.col("c_custkey") % 6 == 0, "delete"),
    ]
    states = None
    persisted = []
    try:
        for g in gens:
            states = quotient_apply_ops_df(
                states, g, "key", capacity=cap, false_positive_rate=1e-8,
                shard_bits=3 if states is None else None,
            ).persist()
            states.count()
            persisted.append(states)
        probes = customer.select(F.col("c_custkey").alias("custkey")).union(
            customer.select((F.col("c_custkey") + F.lit(10_000_000)).alias("custkey"))
        )
        out = (
            quotient_partitioned_probe(probes, "custkey", states)
            .where(F.col("is_member"))
            .select("custkey")
            .distinct()
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        for df in persisted:
            try:
                df.unpersist()
            except Exception:
                pass


def _q_tdigest_price_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest quantiles of l_extendedprice; verdict = rank error <= 0.01."""
    from probabilistic_rs_spark.operators.quantiles import approx_quantiles

    li = _t(spark, sf_dir, "lineitem")
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    est = approx_quantiles(li, {"price": "l_extendedprice"}, qs, kind="tdigest", delta=200.0)
    rows = {float(r["q"]): float(r["value"]) for r in est.collect()}
    n_total = li.count()
    aggs = [
        (F.sum((F.col("l_extendedprice") <= F.lit(rows[q])).cast("long")) / F.lit(n_total)).alias(
            f"r{i}"
        )
        for i, q in enumerate(qs)
    ]
    ranks = li.agg(*aggs).head()
    data = [(q, bool(abs(float(ranks[f"r{i}"]) - q) <= 0.01)) for i, q in enumerate(qs)]
    return spark.createDataFrame(data, "q double, within_bound boolean")


def _q_kll_shipdays_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantiles of days(l_shipdate since 1992-01-01); rank err <= 0.02."""
    from probabilistic_rs_spark.operators.quantiles import approx_quantiles

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_days", F.datediff(F.to_date("l_shipdate"), F.lit("1992-01-01")).cast("double")
    )
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    est = approx_quantiles(li, {"ship_days": "ship_days"}, qs, kind="kll", k=200)
    rows = {float(r["q"]): float(r["value"]) for r in est.collect()}
    n_total = li.count()
    aggs = [
        (F.sum((F.col("ship_days") <= F.lit(rows[q])).cast("long")) / F.lit(n_total)).alias(f"r{i}")
        for i, q in enumerate(qs)
    ]
    ranks = li.agg(*aggs).head()
    data = [(q, bool(abs(float(ranks[f"r{i}"]) - q) <= 0.02)) for i, q in enumerate(qs)]
    return spark.createDataFrame(data, "q double, within_bound boolean")


def _q_hll_reaggregate_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-state reuse: per-(event_type, day) HLL states built once,
    then merged DOWN to per-event_type counts WITHOUT rescanning events —
    the core sketch algebra (register-max union is exact)."""
    from probabilistic_rs_spark.operators.rollup import reaggregate_states
    from probabilistic_rs_spark.operators.sketch_agg import (
        SketchSpec,
        sketch_aggregate,
        with_hll_estimate,
    )

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    spec = SketchSpec("u", "hll", "user_id", {"p": 14})
    fine = sketch_aggregate(ev, ["event_type", "day"], [spec])
    coarse = reaggregate_states(fine, ["event_type", "day"], ["event_type"], [spec])
    return with_hll_estimate(coarse, "u_state", "n_distinct_users").select(
        "event_type", "n_distinct_users"
    )


def _q_cms_probe_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point probes: one build (counting analog of contains_bulk,
    src/bloom/filter.rs:440-477), estimated per probe row by the all-JVM
    codegen probe (``least`` over d broadcast-row lookups — zero Python
    per probe row). ``cms_probe`` is an alias of ``native_cms_probe``, so
    one probe fills both columns; they keep the names ``est_pandas`` and
    ``est_native`` so the result hash is unchanged. The estimates are
    exact here (event_type cardinality ≪ w, no collisions) and must
    agree with the exact-count oracle."""
    from probabilistic_rs_spark.operators.heavy_hitters import (
        build_cms_state,
        native_cms_probe,
    )

    ev = _t(spark, sf_dir, "events")
    state = build_cms_state(ev, "event_type", eps=0.001, delta=0.001)
    probes = ev.select("event_type").distinct()
    return native_cms_probe(probes, "event_type", state).select(
        F.col("event_type").alias("key"),
        F.col("est_count").alias("est_pandas"),
        F.col("est_count").alias("est_native"),
    )


def _q_cs_moments_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count sketch + AMS F2 (round 7, sketches/countsketch.py —
    Charikar–Chen–Farach-Colton 2002 / Alon–Matias–Szegedy 1996): the
    SIGNED frequency family CMS cannot express — unbiased point estimates
    (collisions cancel instead of accumulating) and the second moment
    ``F2 = Σ count(x)²`` = the key's SELF-JOIN SIZE, the skew statistic a
    planner reads before committing a 100 TB shuffle join. One state,
    built in one scan through the generic partial/merge pipeline; probed
    by BOTH families (broadcast pandas kernel AND the zero-Python codegen
    probe: median of d signed lookups via a least/greatest Batcher
    network, array_sort being a CodegenFallback — the signed member
    of the native-probe family); ``f2`` read off the same state. The
    event_type cardinality ≪ w here, so every estimate is exact and the
    exact GROUP BY / SUM(c²) oracle hash-matches (estimate-regime bounds
    are gated in tests/test_countsketch.py and the bit-equality merge
    algebra generatively in tests/test_properties.py). ``est_net``
    additionally gates the TURNSTILE fold (``cs_apply_ops_df`` — the
    linear family's native deletion): every event inserted, every
    'click' row then deleted — linearity must zero the click key exactly
    and leave every other key's net count untouched (CASE oracle)."""
    from probabilistic_rs_spark.operators.moments import (
        build_cs_state,
        cs_apply_ops_df,
        cs_probe,
        f2_from_state,
        native_cs_probe,
    )

    ev = _t(spark, sf_dir, "events")
    state = build_cs_state(ev, "event_type", eps=0.02, delta=0.001)
    probes = ev.select("event_type").distinct()
    both = native_cs_probe(
        cs_probe(probes, "event_type", state, out_col="est_pandas"),
        "event_type",
        state,
        out_col="est_native",
    )
    ops = ev.select("event_type", F.lit("insert").alias("op")).unionAll(
        ev.where(F.col("event_type") == "click").select(
            "event_type", F.lit("delete").alias("op")
        )
    )
    net_state = cs_apply_ops_df(ops, "event_type", eps=0.02, delta=0.001)
    net = cs_probe(probes, "event_type", net_state, out_col="est_net")
    return both.join(net, "event_type").select(
        F.col("event_type").alias("key"),
        "est_pandas",
        "est_native",
        "est_net",
        F.lit(int(f2_from_state(state))).alias("f2"),
    )


def _q_mg_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries deterministic top-k (round 7, sketches/mg.py —
    Misra & Gries 1982; merge algebra per Agarwal et al., PODS 2012):
    the frequency family CMS cannot replace — it carries the ACTUAL keys
    (no probe set needed), uses no hashing (no δ failure probability),
    and every output row ships its self-certifying bound
    ``est_count <= true <= est_count + max_undercount``. Partial states
    are bounded at k entries regardless of key cardinality, so the
    shuffle is state-sized. k=4096 ≫ the supplier cardinality at sf0.01
    → no compaction anywhere → max_undercount = 0 and every count is
    exact, so the exact GROUP BY/HAVING oracle hash-matches (compaction-
    regime bounds are gated in tests/test_mg.py and generatively in
    tests/test_properties.py)."""
    from probabilistic_rs_spark.operators.heavy_hitters import mg_topk

    li = _t(spark, sf_dir, "lineitem")
    return mg_topk(li, "l_suppkey", k=4096, threshold=650).select(
        "key", "est_count", "max_undercount"
    )


def _q_windowed_bloom_recent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expiring-Bloom semantics over event-time buckets: users present in
    the 3 most recent 7-day windows (per-level AND, cross-level OR probe —
    reference src/ebloom/filter.rs:602-638)."""
    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate
    from probabilistic_rs_spark.operators.windowed_bloom import probe_recent

    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket",
        F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / F.lit(7)).cast("long"),
    )
    spec = SketchSpec("bloom", "bloom", "user_id", {"capacity": 100_000, "false_positive_rate": 0.0001})
    states = sketch_aggregate(ev, ["bucket"], [spec])
    recent = states.orderBy(F.desc("bucket")).limit(3).collect()
    levels = [(r["bucket"], r["bucket"], bytes(r["bloom_state"])) for r in recent]
    users = ev.select("user_id").distinct()
    return probe_recent(users, "user_id", levels).where(F.col("is_member")).select("user_id")


def _q_native_windowed_bloom_recent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expiring-Bloom query on the NATIVE engine (round 4): levels
    built with the JVM-xxhash64 KM family, probed by
    ``native_probe_recent`` — per-level AND / cross-level OR entirely in
    whole-stage codegen, zero Python per probe row. Same exact weekly
    oracle as the parity query (the fpr is tiny, so the approximate
    answer equals the exact one on this data)."""
    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate
    from probabilistic_rs_spark.operators.windowed_bloom import native_probe_recent

    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket",
        F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / F.lit(7)).cast("long"),
    )
    spec = SketchSpec("bloom", "nbloom", "user_id", {"capacity": 100_000, "false_positive_rate": 0.0001})
    states = sketch_aggregate(ev, ["bucket"], [spec])
    recent = states.orderBy(F.desc("bucket")).limit(3).collect()
    levels = [(r["bucket"], r["bucket"], bytes(r["bloom_state"])) for r in recent]
    users = ev.select("user_id").distinct()
    return (
        native_probe_recent(users, "user_id", levels)
        .where(F.col("is_member"))
        .select("user_id")
    )


def _q_windowed_bloom_partitioned_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expiring-Bloom query on the PARTITIONED (non-broadcast) family
    (round 6, VERDICT r5 #2): per-week level bit vectors are built
    DIRECTLY into a distributed ``(level, block, words)`` table — no
    whole-level state is ever materialized, no broadcast budget applies —
    and the probe computes its KM positions JVM-side, shuffles bit tests
    to their block, and recombines per-level AND / cross-level OR
    (``windowed_bloom_partitioned_probe``). Same exact weekly oracle as
    the broadcast twins: the 3 most recent weekly levels, tiny fpr, so
    the approximate answer equals the exact one on this data."""
    from probabilistic_rs_spark.operators.windowed_bloom import (
        build_windowed_bloom_blocks_df,
        windowed_bloom_partitioned_probe,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket",
        F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / F.lit(7)).cast("long"),
    )
    blocks = build_windowed_bloom_blocks_df(
        ev, "bucket", "user_id",
        capacity_per_level=100_000, target_fpr=0.0001, words_per_block=4096,
    )
    # lazy-DataFrame contract (ADVICE r6): the probe persists blocks
    # internally (LRU-bounded), so the num_levels probe (one level-list
    # job, then the bit-test join; geometry from the words column
    # metadata) executes the build once and the harness consumes a lazy
    # result — no collect().
    users = ev.select("user_id").distinct()
    return (
        windowed_bloom_partitioned_probe(users, "user_id", blocks, num_levels=3)
        .where(F.col("is_member"))
        .select("user_id")
    )


def _q_streaming_windowed_bloom_recent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING expiring Bloom (applyInPandasWithState, availableNow
    trigger over a file source) oracle-gated against the same exact weekly
    semantics as the batch windowed_bloom_recent_users query: users present
    in the 3 most recent 7-day buckets. Each event's timestamp is
    pre-snapped to its bucket start so streaming window boundaries map 1:1
    onto the oracle's calendar buckets."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window as W

    from probabilistic_rs_spark.operators.windowed_bloom import probe_recent
    from probabilistic_rs_spark.streaming import streaming_windowed_bloom

    ev = _t(spark, sf_dir, "events")
    bucket_start = F.to_timestamp(
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            (F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7) * 7).cast("int"),
        )
    )
    src_df = ev.select("user_id", bucket_start.alias("bts"))
    tmp = tempfile.mkdtemp(prefix="prs_stream_q_")
    qname = f"prs_recent_users_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{tmp}/src"
        src_df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(src_df.schema).parquet(src)
        out = streaming_windowed_bloom(
            stream,
            "bts",
            "user_id",
            level_duration="7 days",
            watermark_delay="14 days",
            capacity_per_level=100_000,
            target_fpr=0.0001,
        )
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        res = spark.sql(f"SELECT * FROM {qname}").where(~F.col("expired"))
        latest = res.withColumn(
            "rn", F.row_number().over(W.partitionBy("window_start").orderBy(F.desc("n_updates")))
        ).where("rn = 1")
        recent = latest.orderBy(F.desc("window_start")).limit(3).collect()
        levels = [(r["window_start"], r["window_end"], bytes(r["state"])) for r in recent]
        users = ev.select("user_id").distinct()
        members = (
            probe_recent(users, "user_id", levels).where(F.col("is_member")).select("user_id")
        )
        return spark.createDataFrame(members.collect(), members.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_streaming_native_windowed_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming × native-probe composition (round 5): the expiring Bloom
    runs as a STREAMING query with ``engine='native'`` (KM base hashes
    computed in the streaming projection, ``applyInPandasWithState``
    kernel is a bare scatter), every micro-batch's states are persisted
    through the ``foreachBatch`` chunk-store sink
    (``streaming/persistence.py`` — dirty-chunk incremental, native
    family recorded in the store meta), and the membership probe runs
    over the states LOADED BACK from the chunk stores with
    ``native_probe_recent`` — per-level AND / cross-level OR entirely in
    whole-stage codegen. Proves the zero-Python probe family composes
    with both the stateful streaming operator's output and the
    externalized persistence layout. Same weekly semantics and oracle as
    ``streaming_windowed_bloom_recent_users``."""
    import shutil
    import tempfile

    from probabilistic_rs_spark.chunkstore import WindowedBloomChunkStores
    from probabilistic_rs_spark.operators.windowed_bloom import native_probe_recent
    from probabilistic_rs_spark.sketches.bloom import BloomConfig
    from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch
    from probabilistic_rs_spark.streaming import streaming_windowed_bloom
    from probabilistic_rs_spark.streaming.persistence import (
        start_persisted_windowed_bloom,
    )

    ev = _t(spark, sf_dir, "events")
    bucket_start = F.to_timestamp(
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            (F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7) * 7).cast("int"),
        )
    )
    src_df = ev.select("user_id", bucket_start.alias("bts"))
    tmp = tempfile.mkdtemp(prefix="prs_stream_native_")
    try:
        src = f"{tmp}/src"
        src_df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(src_df.schema).parquet(src)
        out = streaming_windowed_bloom(
            stream,
            "bts",
            "user_id",
            level_duration="7 days",
            watermark_delay="14 days",
            capacity_per_level=100_000,
            target_fpr=0.0001,
            engine="native",
        )
        stores = WindowedBloomChunkStores(
            f"{tmp}/stores",
            BloomConfig(capacity=100_000, false_positive_rate=0.0001),
            num_levels=3,
            sketch_cls=NativeBloomSketch,
        )
        q = start_persisted_windowed_bloom(
            out, stores, f"{tmp}/ck", available_now=True
        )
        q.awaitTermination(300)
        # probe from the EXTERNALIZED layout, not the in-flight query
        levels = [
            (wk, wk, blob) for wk, blob in stores.active_level_states()
        ]
        users = ev.select("user_id").distinct()
        members = (
            native_probe_recent(users, "user_id", levels)
            .where(F.col("is_member"))
            .select("user_id")
        )
        return spark.createDataFrame(members.collect(), members.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_sample_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-reservoir sample: 5 uniform orders per
    o_orderpriority. Priority = md5-derived (engine-portable), so the
    DuckDB oracle reproduces the EXACT same sample; the global variant
    compiles to TakeOrderedAndProject (per-partition top-k, no full
    sort)."""
    from probabilistic_rs_spark.operators.sampling import hash_reservoir_sample

    orders = _t(spark, sf_dir, "orders")
    return hash_reservoir_sample(
        orders, "o_orderkey", k=5, group_cols=["o_orderpriority"]
    )


def _q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted document sampling (Efraimidis–Spirakis over
    md5-derived uniforms): inclusion ∝ quality_score, deterministic and
    exactly reproducible by the SQL oracle."""
    from probabilistic_rs_spark.functions.text import quality_score
    from probabilistic_rs_spark.operators.sampling import hash_weighted_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", quality_score("text").alias("w")
    )
    out = hash_weighted_sample(docs, "doc_id", "w", k=25)
    return out.select("doc_id", "sample_rank")


def _q_tdigest_cdf_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest CDF probe (inverse of the quantile query): broadcast the
    merged digest, probe fixed price points map-side, verdict = estimated
    rank within 0.01 of the exact rank."""
    from probabilistic_rs_spark.operators.quantiles import (
        build_tdigest_state,
        tdigest_cdf_probe,
    )

    li = _t(spark, sf_dir, "lineitem")
    state = build_tdigest_state(li, "l_extendedprice", delta=200.0)
    points = [2000.0, 20000.0, 40000.0, 60000.0, 90000.0]
    probes = spark.createDataFrame([(p,) for p in points], "price double")
    est = {
        float(r["price"]): float(r["cdf"])
        for r in tdigest_cdf_probe(probes, "price", state).collect()
    }
    n_total = li.count()
    aggs = [
        (F.sum((F.col("l_extendedprice") <= F.lit(p)).cast("long")) / F.lit(n_total)).alias(
            f"r{i}"
        )
        for i, p in enumerate(points)
    ]
    ranks = li.agg(*aggs).head()
    data = [
        (p, bool(abs(est[p] - float(ranks[f"r{i}"])) <= 0.01))
        for i, p in enumerate(points)
    ]
    return spark.createDataFrame(data, "price double, within_bound boolean")


def _q_native_kll_cdf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL rank/CDF probe with ZERO Python per probe row (round 5, the
    t-digest resample trick applied to the compactor CDF): the merged
    KLL state's step CDF is resampled driver-side into a 4096-bucket
    table; each probe interpolates between two ``element_at`` lookups
    inside whole-stage codegen. Verdict = estimated rank within the
    sketch's ~2/k + resample bound of the exact rank."""
    from probabilistic_rs_spark.operators.quantiles import (
        build_kll_state,
        native_kll_cdf_probe,
    )

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_days", F.datediff(F.to_date("l_shipdate"), F.lit("1992-01-01")).cast("double")
    )
    state = build_kll_state(li, "ship_days", k=200)
    points = [200.0, 700.0, 1200.0, 1700.0, 2200.0]
    probes = spark.createDataFrame([(p,) for p in points], "ship_days double")
    est = {
        float(r["ship_days"]): float(r["cdf"])
        for r in native_kll_cdf_probe(probes, "ship_days", state).collect()
    }
    n_total = li.count()
    aggs = [
        (F.sum((F.col("ship_days") <= F.lit(p)).cast("long")) / F.lit(n_total)).alias(f"r{i}")
        for i, p in enumerate(points)
    ]
    ranks = li.agg(*aggs).head()
    data = [
        (p, bool(abs(est[p] - float(ranks[f"r{i}"])) <= 0.02))
        for i, p in enumerate(points)
    ]
    return spark.createDataFrame(data, "ship_days double, within_bound boolean")


def _q_hll_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-state set algebra: |A ∩ B| of distinct users between
    every pair of event types via HLL inclusion–exclusion — three
    register-max merges per pair, input scanned exactly once for the
    state build (exact in sparse mode at this scale)."""
    from probabilistic_rs_spark.operators.rollup import with_hll_intersection
    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate

    ev = _t(spark, sf_dir, "events")
    spec = SketchSpec("u", "hll", "user_id", {"p": 14})
    states = sketch_aggregate(ev, ["event_type"], [spec]).select(
        "event_type", "u_state"
    )
    a = states.select(F.col("event_type").alias("type_a"), F.col("u_state").alias("__sa"))
    b = states.select(F.col("event_type").alias("type_b"), F.col("u_state").alias("__sb"))
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    out = with_hll_intersection(pairs, "__sa", "__sb", "n_intersection")
    return out.where(F.col("n_intersection") > 0).select(
        "type_a", "type_b", "n_intersection"
    )


def _q_streaming_windowed_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window HLL: distinct users per epoch-aligned 7-day
    window maintained incrementally by applyInPandasWithState over a file
    source (availableNow). Sparse-mode states make the estimates exact at
    this scale, so the oracle is the plain per-week COUNT(DISTINCT)."""
    import datetime
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window as W

    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec
    from probabilistic_rs_spark.sketches.hll import HyperLogLog
    from probabilistic_rs_spark.streaming import streaming_windowed_sketch

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    tmp = tempfile.mkdtemp(prefix="prs_stream_hll_")
    qname = f"prs_hll_windows_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{tmp}/src"
        ev.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = streaming_windowed_sketch(
            stream,
            "ts",
            "user_id",
            SketchSpec("u", "hll", "user_id", {"p": 14}),
            level_duration="7 days",
            watermark_delay="30 days",
        )
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        res = spark.sql(f"SELECT * FROM {qname}").where(~F.col("expired"))
        latest = res.withColumn(
            "rn", F.row_number().over(W.partitionBy("window_start").orderBy(F.desc("n_updates")))
        ).where("rn = 1")
        rows = latest.select("window_start", "state").collect()
        data = [
            (
                int((r["window_start"].date() - datetime.date(1970, 1, 1)).days // 7),
                int(round(HyperLogLog.from_bytes(bytes(r["state"])).estimate())),
            )
            for r in rows
        ]
        return spark.createDataFrame(data, "week bigint, n_users bigint")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text analysis / multimodal
# ---------------------------------------------------------------------------

def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", ["text"])


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=2, threshold=0.5
    )


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact Jaccard — at the sf0.01 operating
    point recall is exactly 1.0 (verified), so output ≡ all true pairs."""
    from probabilistic_rs_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=2, threshold=0.5, num_perm=128, bands=32,
    )


def _q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.dedup import with_simhash

    return with_simhash(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=8
    )


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the SimHash pair
    graph via iterative min-label propagation (two hash-shuffles per
    round, O(V+E) state rows, no driver-side graph)."""
    from probabilistic_rs_spark.operators.components import connected_components
    from probabilistic_rs_spark.operators.dedup import simhash_pairs

    pairs = simhash_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=8)
    return connected_components(pairs)


def _q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One canonical doc per duplicate cluster (min doc_id survives),
    singletons pass through; n_cluster = cluster size."""
    from probabilistic_rs_spark.operators.components import canonical_docs
    from probabilistic_rs_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, "doc_id", "text", max_hamming=8)
    return canonical_docs(docs, "doc_id", pairs).select("doc_id", "n_cluster")


def _q_embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH hyperplane-LSH regimes in one gate (round-7 consolidation
    freeing a driver slot under the 50-query cap — the r5/r6 idiom):

    * ``regime='base'``: threshold 0.4 over the raw embeddings — coarse
      auto-derived (planes, tables), candidate-heavy;
    * ``regime='planted'``: threshold 0.95 over embeddings plus planted
      exact duplicates (vec_id+10000) — the regime LSH is built for:
      fine (planes, tables) (collision prob q→1), candidates collapse to
      genuine near-dups, and recall for the planted pairs is structural
      (identical vectors share every bucket).

    A miss in either regime breaks its regime-tagged rows' hash."""
    from probabilistic_rs_spark.operators.dedup import embedding_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    low = embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.4)
    aug = emb.union(
        emb.where(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + F.lit(10000)).alias("vec_id"), "embedding"
        )
    )
    high = embedding_cosine_pairs(aug, "vec_id", "embedding", threshold=0.95)
    return low.select(
        F.lit("base").alias("regime"), "id_a", "id_b",
        F.round("cosine", 4).alias("cosine"),
    ).unionAll(
        high.select(
            F.lit("planted").alias("regime"), "id_a", "id_b",
            F.round("cosine", 4).alias("cosine"),
        )
    )


def _q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def _q_ivf_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the coarse-quantizer scale path next to
    the LSH one (round 5; fixture upgraded round 6 per VERDICT r5 #4):
    deterministic spherical k-means on a bounded hash-ordered sample,
    map-side list assignment, candidates via an equi-join on probed list
    ids, exact re-rank.

    The corpus is the PLANTED-CLUSTER embeddings fixture
    (``datagen.clustered_embeddings_df``: 16 unit centers, each vector a
    small deterministic perturbation — in-cluster cosine ≈ 0.94 vs ≈ 0
    cross-cluster, every value a pure function of (vec_id, seed)), so the
    coarse quantizer's pruning is actually measurable: **n_probe = 4 of
    16 lists (25 % of the corpus scanned per query)** with verdict =
    per-query recall@5 vs the exact broadcast top-k ≥ 0.8. The driver's
    own embeddings table stays covered by ``ann_cosine_topk`` and the
    LSH near-dup queries. Fully deterministic for the fixed seed."""
    from probabilistic_rs_spark.datagen import clustered_embeddings_df
    from probabilistic_rs_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )

    emb = clustered_embeddings_df(spark, 2000, dim=32, n_clusters=16, seed=7)
    emb = emb.select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, qs, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann_topk(
            emb, qs, "vec_id", "embedding", k=5, n_lists=16, n_probe=4
        ).collect()
    }
    hits: dict[int, int] = {}
    for q, n in exact:
        hits[int(q)] = hits.get(int(q), 0) + ((q, n) in approx)
    data = [(q, bool(hits.get(q, 0) / 5.0 >= 0.8)) for q in range(10)]
    return spark.createDataFrame(data, "query_id bigint, recall_ok boolean")


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts, quality score, AND the rolling-hash document
    fingerprint in one scan (round 6 consolidated the former standalone
    ``doc_fingerprints`` query here — same operators, same oracle
    coverage, one driver-graded slot: the driver records at most 50
    queries). All pure-JVM expressions."""
    from probabilistic_rs_spark.functions.text import (
        bpe_ish_token_count,
        doc_fingerprint,
        quality_score,
        whitespace_token_count,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        whitespace_token_count("text").alias("n_tok"),
        bpe_ish_token_count("text").alias("n_bpe"),
        quality_score("text").alias("quality"),
        doc_fingerprint("text").alias("fp"),
    )


def _q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.functions.text import lang_id

    return _t(spark, sf_dir, "documents").select(
        "doc_id", lang_id("text").alias("pred_lang")
    )


def _q_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation gate over documents (+ injected exact copies so
    the duplicate gate fires): too_short / too_long / low_quality /
    wrong_lang / duplicate / kept, one scan + one digest shuffle."""
    from probabilistic_rs_spark.operators.curation import curate_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.union(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + F.lit(100000)).alias("doc_id"), "text"
        )
    )
    return curate_documents(
        aug, min_tokens=20, max_tokens=80, min_quality=0.75, allowed_langs=["en"]
    )


def _q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from probabilistic_rs_spark.operators.multimodal import media_metadata

    payload = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode(F.concat(F.lit("<html><body>"), F.col("text")), "UTF-8").alias("payload"),
    )
    return media_metadata(payload, "payload").select(
        "doc_id", "media_type", "n_bytes", "content_sha256"
    )


def _q_media_featurize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END REAL codec path (VERDICT r3 #7; round 6 grew it from
    two formats to FOUR): ``doc_id % 4`` rotates each document through a
    deterministic 24-bit BMP, a zlib-compressed PNG (RGB/RGBA by id
    bit 2, scanline filters rotating through all five types), an
    LZW-compressed GIF (plain/interlaced by id bit 2 — lossless, so
    exact), and a baseline-DCT grayscale JPEG (solid frames are DC-only,
    so the lossy codec is exact on this fixture). All four share one
    arithmetic geometry/color contract and are decoded by the REAL
    header-parsing/inflating/LZW/Huffman+IDCT decoders inside the
    ``mapInPandas`` featurizer; the DECODED values must match what the
    SQL oracle derives arithmetically — a defect in any of the four
    codecs (stride, row order, BGR swap, unfilter path, LZW code-width
    growth, de-interlace, Huffman table build, dequant, IDCT scale)
    breaks the hash match."""
    from probabilistic_rs_spark.datagen import with_media_payload
    from probabilistic_rs_spark.operators.multimodal import decode_and_featurize

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    payload = with_media_payload(docs, "doc_id", "payload").select(
        "doc_id", "payload"
    )
    ft = decode_and_featurize(payload, "payload", ["doc_id"], decoder="image")
    f = F.col("features")
    return ft.select(
        "doc_id",
        F.col("media_type").alias("media_type"),
        f.getItem(0).cast("int").alias("width"),
        f.getItem(1).cast("int").alias("height"),
        F.round(f.getItem(2) * 255).cast("int").alias("red"),
        F.round(f.getItem(3) * 255).cast("int").alias("green"),
        F.round(f.getItem(4) * 255).cast("int").alias("blue"),
        # derived from the exact int-valued geometry slots, not the
        # float32 pixel-count slot (ADVICE r4 #3: slot 15 loses exactness
        # above 2^24 pixels, which would break this bigint hash match on
        # large images)
        (f.getItem(0) * f.getItem(1)).cast("long").alias("n_pixels"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "hll_distinct_users_by_event_type": _q_hll_users_by_event_type,
        "hll_distinct_custkey_global": _q_hll_custkey_global,
        "hll_dense_bound_orderkey_by_flag": _q_hll_dense_bound,
        "cms_heavy_parts": _q_cms_heavy_parts,
        "cms_partitioned_probe_event_counts": _q_cms_partitioned_probe_event_counts,
        "salted_exact_supplier_counts": _q_salted_exact_supplier_counts,
        "bloom_members_custkey": _q_bloom_members_custkey,
        "theta_event_audience_overlap": _q_theta_overlap,
        "quotient_members_after_delete": _q_quotient_members_after_delete,
        "quotient_partitioned_members": _q_quotient_partitioned_members,
        "bloom_fpr_gate": _q_bloom_fpr_gate,
        "bloom_semi_filter_urgent": _q_bloom_semi_filter_urgent,
        "bloom_incremental_checkpoint": _q_bloom_incremental_checkpoint,
        "cuckoo_members_after_delete": _q_cuckoo_members_after_delete,
        "native_cuckoo_members_after_delete": _q_native_cuckoo_members_after_delete,
        "cuckoo_partitioned_members": _q_cuckoo_partitioned_members,
        "cuckoo_ops_log_members": _q_cuckoo_ops_log_members,
        "quotient_ops_log_members": _q_quotient_ops_log_members,
        "tdigest_price_quantile_bounds": _q_tdigest_price_bounds,
        "kll_shipdays_quantile_bounds": _q_kll_shipdays_bounds,
        "hll_reaggregate_states": _q_hll_reaggregate_states,
        "cms_probe_event_counts": _q_cms_probe_event_counts,
        "cs_moments_event_types": _q_cs_moments_event_types,
        "mg_top_suppliers": _q_mg_top_suppliers,
        "windowed_bloom_recent_users": _q_windowed_bloom_recent_users,
        "native_windowed_bloom_recent_users": _q_native_windowed_bloom_recent_users,
        "windowed_bloom_partitioned_members": _q_windowed_bloom_partitioned_members,
        "streaming_windowed_bloom_recent_users": _q_streaming_windowed_bloom_recent_users,
        "streaming_native_windowed_probe": _q_streaming_native_windowed_probe,
        "streaming_windowed_hll_users": _q_streaming_windowed_hll_users,
        "sample_orders_per_priority": _q_sample_orders_per_priority,
        "weighted_sample_docs_by_quality": _q_weighted_sample_docs,
        "tdigest_cdf_bounds": _q_tdigest_cdf_bounds,
        "native_kll_cdf_probe": _q_native_kll_cdf_probe,
        "hll_event_type_user_overlap": _q_hll_user_overlap,
        "dedup_exact_text": _q_dedup_exact,
        "dedup_ngram_jaccard_pairs": _q_ngram_jaccard,
        "dedup_minhash_lsh_pairs": _q_minhash_lsh,
        "simhash_fingerprints": _q_simhash_fingerprints,
        "simhash_dup_pairs": _q_simhash_pairs,
        "dedup_components": _q_dedup_components,
        "dedup_canonical_docs": _q_dedup_canonical_docs,
        "embedding_cosine_neardup": _q_embedding_cosine_neardup,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ivf_ann_recall": _q_ivf_ann_recall,
        "text_stats": _q_text_stats,
        "text_lang_id": _q_text_lang_id,
        "curate_documents": _q_curate_documents,
        "media_metadata_html": _q_media_metadata,
        "media_featurize_real": _q_media_featurize_real,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "hll_distinct_users_by_event_type": (
            "SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_distinct_users "
            "FROM events GROUP BY event_type"
        ),
        "hll_distinct_custkey_global": (
            "SELECT count(DISTINCT o_custkey)::BIGINT AS n_distinct_custkey FROM orders"
        ),
        "hll_dense_bound_orderkey_by_flag": (
            "SELECT DISTINCT l_returnflag, TRUE AS within_bound FROM lineitem"
        ),
        "cms_heavy_parts": (
            "SELECT CAST(l_partkey AS VARCHAR) AS key, count(*)::BIGINT AS est_count "
            "FROM lineitem GROUP BY l_partkey HAVING count(*) >= 45"
        ),
        "cms_partitioned_probe_event_counts": (
            "SELECT event_type AS key, count(*)::BIGINT AS est_count "
            "FROM events GROUP BY event_type"
        ),
        "salted_exact_supplier_counts": (
            "SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*)::BIGINT AS cnt "
            "FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 650"
        ),
        "bloom_members_custkey": (
            "SELECT DISTINCT c_custkey AS custkey, TRUE AS parity_member, "
            "TRUE AS native_member FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders)"
        ),
        "theta_event_audience_overlap": (
            "WITH d AS (SELECT DISTINCT event_type, user_id FROM events), "
            "per AS (SELECT event_type, count(*)::BIGINT AS n FROM d GROUP BY event_type), "
            "c AS (SELECT a.event_type AS event_type_a, b.event_type AS event_type_b, "
            "count(*)::BIGINT AS n_intersection FROM d a JOIN d b "
            "ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1, 2) "
            "SELECT c.event_type_a, c.event_type_b, pa.n AS n_a, pb.n AS n_b, "
            "c.n_intersection, (pa.n + pb.n - c.n_intersection)::BIGINT AS n_union, "
            "(pa.n - c.n_intersection)::BIGINT AS n_a_not_b, "
            "c.n_intersection / CAST(pa.n + pb.n - c.n_intersection AS DOUBLE) AS jaccard "
            "FROM c JOIN per pa ON pa.event_type = c.event_type_a "
            "JOIN per pb ON pb.event_type = c.event_type_b"
        ),
        "bloom_fpr_gate": (
            "SELECT TRUE AS no_false_negatives, TRUE AS fpr_ok"
        ),
        "bloom_semi_filter_urgent": (
            "SELECT l_returnflag, count(*)::BIGINT AS n_rows, sum(l_quantity) AS sum_qty "
            "FROM lineitem WHERE l_orderkey IN "
            "(SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') "
            "GROUP BY l_returnflag"
        ),
        "bloom_incremental_checkpoint": (
            "SELECT DISTINCT c_custkey AS custkey FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders)"
        ),
        "cuckoo_members_after_delete": (
            "SELECT DISTINCT c_custkey AS custkey FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders) "
            "AND c_custkey % 3 != 0"
        ),
        "native_cuckoo_members_after_delete": (
            "SELECT DISTINCT c_custkey AS custkey FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders) "
            "AND c_custkey % 3 != 0"
        ),
        "cuckoo_partitioned_members": (
            "SELECT DISTINCT c_custkey AS custkey FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders) "
            "AND c_custkey % 3 != 0"
        ),
        "cuckoo_ops_log_members": (
            "SELECT DISTINCT c_custkey AS custkey FROM customer "
            "WHERE c_custkey % 3 IN (0, 1) AND c_custkey % 6 != 0"
        ),
        "quotient_ops_log_members": (
            "SELECT DISTINCT c_custkey AS custkey FROM customer "
            "WHERE c_custkey % 3 IN (0, 1) AND c_custkey % 6 != 0"
        ),
        "quotient_members_after_delete": (
            "SELECT DISTINCT c_custkey AS custkey FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders) "
            "AND c_custkey % 3 != 0"
        ),
        "quotient_partitioned_members": (
            "SELECT DISTINCT c_custkey AS custkey FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders) "
            "AND c_custkey % 3 != 0"
        ),
        "tdigest_price_quantile_bounds": (
            "SELECT CAST(q AS DOUBLE) AS q, within_bound FROM (VALUES (0.01, TRUE), "
            "(0.25, TRUE), (0.5, TRUE), (0.75, TRUE), (0.99, TRUE)) AS t(q, within_bound)"
        ),
        "kll_shipdays_quantile_bounds": (
            "SELECT CAST(q AS DOUBLE) AS q, within_bound FROM (VALUES (0.01, TRUE), "
            "(0.25, TRUE), (0.5, TRUE), (0.75, TRUE), (0.99, TRUE)) AS t(q, within_bound)"
        ),
        "hll_reaggregate_states": (
            "SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_distinct_users "
            "FROM events GROUP BY event_type"
        ),
        "cms_probe_event_counts": (
            "SELECT event_type AS key, count(*)::BIGINT AS est_pandas, "
            "count(*)::BIGINT AS est_native FROM events GROUP BY event_type"
        ),
        "cs_moments_event_types": (
            "WITH c AS (SELECT event_type AS key, count(*)::BIGINT AS cnt "
            "FROM events GROUP BY event_type) "
            "SELECT key, cnt AS est_pandas, cnt AS est_native, "
            "CASE WHEN key = 'click' THEN 0 ELSE cnt END::BIGINT AS est_net, "
            "(SELECT CAST(SUM(cnt * cnt) AS BIGINT) FROM c) AS f2 FROM c"
        ),
        "mg_top_suppliers": (
            "SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*)::BIGINT AS est_count, "
            "0.0::DOUBLE AS max_undercount "
            "FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 650"
        ),
        "windowed_bloom_recent_users": (
            "SELECT DISTINCT user_id FROM events "
            "WHERE floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) >= "
            "(SELECT max(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)) - 2 "
            "FROM events)"
        ),
        "native_windowed_bloom_recent_users": (
            "SELECT DISTINCT user_id FROM events "
            "WHERE floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) >= "
            "(SELECT max(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)) - 2 "
            "FROM events)"
        ),
        "windowed_bloom_partitioned_members": (
            "SELECT DISTINCT user_id FROM events "
            "WHERE floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) >= "
            "(SELECT max(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)) - 2 "
            "FROM events)"
        ),
        "streaming_windowed_bloom_recent_users": (
            "SELECT DISTINCT user_id FROM events "
            "WHERE floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) >= "
            "(SELECT max(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)) - 2 "
            "FROM events)"
        ),
        "streaming_native_windowed_probe": (
            "SELECT DISTINCT user_id FROM events "
            "WHERE floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) >= "
            "(SELECT max(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)) - 2 "
            "FROM events)"
        ),
        "streaming_windowed_hll_users": (
            "SELECT floor(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7)::BIGINT "
            "AS week, count(DISTINCT user_id)::BIGINT AS n_users FROM events GROUP BY 1"
        ),
        "sample_orders_per_priority": _SAMPLE_ORDERS_SQL,
        "weighted_sample_docs_by_quality": _WEIGHTED_SAMPLE_SQL,
        "tdigest_cdf_bounds": (
            "SELECT CAST(price AS DOUBLE) AS price, within_bound FROM (VALUES "
            "(2000.0, TRUE), (20000.0, TRUE), (40000.0, TRUE), (60000.0, TRUE), "
            "(90000.0, TRUE)) AS t(price, within_bound)"
        ),
        "native_kll_cdf_probe": (
            "SELECT CAST(ship_days AS DOUBLE) AS ship_days, within_bound FROM (VALUES "
            "(200.0, TRUE), (700.0, TRUE), (1200.0, TRUE), (1700.0, TRUE), "
            "(2200.0, TRUE)) AS t(ship_days, within_bound)"
        ),
        "hll_event_type_user_overlap": (
            "SELECT ta AS type_a, tb AS type_b, count(*)::BIGINT AS n_intersection FROM ("
            "  SELECT DISTINCT a.event_type ta, b.event_type tb, a.user_id "
            "  FROM events a JOIN events b "
            "  ON a.user_id = b.user_id AND a.event_type < b.event_type) "
            "GROUP BY ta, tb"
        ),
        "dedup_exact_text": (
            "SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id, "
            "count(*)::BIGINT AS n_dups FROM documents GROUP BY text"
        ),
        "dedup_ngram_jaccard_pairs": _JACCARD_PAIRS_SQL,
        "dedup_minhash_lsh_pairs": _JACCARD_PAIRS_SQL,
        "simhash_fingerprints": _SIMHASH_SQL,
        "simhash_dup_pairs": (
            "WITH sim AS (" + _SIMHASH_SQL + ") "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "bit_count(xor(a.simhash, b.simhash))::INT AS hamming "
            "FROM sim a JOIN sim b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8"
        ),
        "dedup_components": (
            "WITH RECURSIVE sim AS (" + _SIMHASH_SQL + "), "
            "pairs AS (SELECT a.doc_id id_a, b.doc_id id_b FROM sim a JOIN sim b "
            "  ON a.doc_id < b.doc_id WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), "
            "edges AS (SELECT id_a s, id_b d FROM pairs "
            "  UNION SELECT id_b, id_a FROM pairs), "
            "reach(v, r) AS (SELECT s, s FROM edges "
            "  UNION SELECT e.d, r.r FROM reach r JOIN edges e ON e.s = r.v) "
            "SELECT v AS vertex, min(r)::BIGINT AS component FROM reach GROUP BY v"
        ),
        "dedup_canonical_docs": (
            "WITH RECURSIVE sim AS (" + _SIMHASH_SQL + "), "
            "pairs AS (SELECT a.doc_id id_a, b.doc_id id_b FROM sim a JOIN sim b "
            "  ON a.doc_id < b.doc_id WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), "
            "edges AS (SELECT id_a s, id_b d FROM pairs "
            "  UNION SELECT id_b, id_a FROM pairs), "
            "reach(v, r) AS (SELECT s, s FROM edges "
            "  UNION SELECT e.d, r.r FROM reach r JOIN edges e ON e.s = r.v), "
            "comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v), "
            "sizes AS (SELECT component, count(*)::BIGINT AS n_cluster FROM comp GROUP BY 1) "
            "SELECT d.doc_id, coalesce(s.n_cluster, 1)::BIGINT AS n_cluster "
            "FROM documents d "
            "LEFT JOIN comp c ON d.doc_id = c.v "
            "LEFT JOIN sizes s ON c.component = s.component "
            "WHERE c.v IS NULL OR d.doc_id = c.component"
        ),
        "embedding_cosine_neardup": (
            "WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings), "
            "e AS (SELECT * FROM e0 UNION ALL "
            "      SELECT vec_id + 10000, v FROM e0 WHERE vec_id % 10 = 0) "
            "SELECT 'base' AS regime, a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(a.v, b.v), 4) AS cosine "
            "FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.v, b.v) >= 0.4 "
            "UNION ALL "
            "SELECT 'planted' AS regime, a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(a.v, b.v), 4) AS cosine "
            "FROM e a JOIN e b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.v, b.v) >= 0.95"
        ),
        "ann_cosine_topk": (
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings), "
            "q AS (SELECT * FROM e WHERE vec_id < 10), "
            "s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            "      list_cosine_similarity(q.v, c.v) AS cos "
            "      FROM q JOIN e c ON q.vec_id <> c.vec_id), "
            "r AS (SELECT query_id, neighbor_id, cos, "
            "      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank "
            "      FROM s) "
            "SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank::INT AS rank "
            "FROM r WHERE rank <= 5"
        ),
        "ivf_ann_recall": (
            "SELECT CAST(range AS BIGINT) AS query_id, TRUE AS recall_ok "
            "FROM range(10)"
        ),
        "text_stats": (
            "SELECT doc_id, "
            "len(string_split(text, ' '))::INT AS n_tok, "
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::INT AS n_bpe, "
            "round(0.4 * least(1.0, len(string_split(text, ' ')) / 64.0) "
            "  + 0.3 * (1.0 - least(1.0, 4.0 * "
            "      (length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE "
            "       / greatest(length(text), 1)))) "
            "  + 0.3 * (CASE WHEN "
            "      list_sum([length(x) FOR x IN string_split(text, ' ')])::DOUBLE "
            "        / greatest(len(string_split(text, ' ')), 1) BETWEEN 3.0 AND 8.0 "
            "      THEN 1.0 ELSE 0.5 END), 6) AS quality, "
            "list_min("
            "[('0x' || substr(md5(substr(text, i, 16)), 1, 15))::UBIGINT "
            " FOR i IN range(1, greatest(length(text) - 15, 1) + 1)])::BIGINT AS fp "
            "FROM documents"
        ),
        "text_lang_id": _LANG_ID_SQL,
        "curate_documents": _CURATE_SQL,
        "media_metadata_html": (
            "SELECT doc_id, 'html' AS media_type, "
            "(12 + length(text))::BIGINT AS n_bytes, "
            "sha256('<html><body>' || text) AS content_sha256 FROM documents"
        ),
        # the real-decode contract: the Spark side DECODES synthesized
        # BMP/PNG/GIF/JPEG payloads (datagen.*_for_id, doc_id % 4
        # rotation); the oracle derives the same values arithmetically —
        # any defect in any of the four codecs breaks the value hash.
        # JPEG fixtures are solid grayscale (DC-only blocks, quant=1 →
        # the lossy codec is exact): red=green=blue=(29·id)%256.
        "media_featurize_real": (
            "SELECT doc_id, "
            "CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' "
            "WHEN 2 THEN 'gif' ELSE 'jpeg' END AS media_type, "
            "(4 + doc_id % 13)::INT AS width, "
            "(3 + doc_id % 7)::INT AS height, "
            "(CASE WHEN doc_id % 4 = 3 THEN (29 * doc_id) % 256 "
            "ELSE doc_id % 256 END)::INT AS red, "
            "(CASE WHEN doc_id % 4 = 3 THEN (29 * doc_id) % 256 "
            "ELSE (7 * doc_id) % 256 END)::INT AS green, "
            "(CASE WHEN doc_id % 4 = 3 THEN (29 * doc_id) % 256 "
            "ELSE (13 * doc_id) % 256 END)::INT AS blue, "
            "((4 + doc_id % 13) * (3 + doc_id % 7))::BIGINT AS n_pixels "
            "FROM documents"
        ),
    }


# shared oracle fragments (DuckDB dialect) -----------------------------------

def _make_sample_orders_sql() -> str:
    from probabilistic_rs_spark.operators.sampling import priority_sample_sql

    return priority_sample_sql("orders", "o_orderkey", 5, ["o_orderpriority"])


_SAMPLE_ORDERS_SQL = _make_sample_orders_sql()

_JACCARD_PAIRS_SQL = (
    "WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents), "
    "s AS (SELECT doc_id, "
    "      list_distinct([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) sh FROM d), "
    "p AS (SELECT a.doc_id id_a, b.doc_id id_b, "
    "      len(list_intersect(a.sh, b.sh))::DOUBLE "
    "        / len(list_distinct(list_concat(a.sh, b.sh))) jac "
    "      FROM s a JOIN s b ON a.doc_id < b.doc_id) "
    "SELECT id_a, id_b, jac AS jaccard FROM p WHERE jac >= 0.5"
)

_SIMHASH_SQL = (
    "SELECT doc_id, "
    "sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash FROM ("
    "  SELECT doc_id, bb.b AS b, sum((((h >> bb.b) & 1) * 2 - 1)::BIGINT) s FROM ("
    "    SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::UBIGINT h FROM ("
    "      SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents)"
    "  ), (SELECT unnest(range(60)) b) bb GROUP BY 1, 2"
    ") GROUP BY doc_id"
)

_QUALITY_EXPR = (
    "round(0.4 * least(1.0, len(string_split(text, ' ')) / 64.0) "
    "  + 0.3 * (1.0 - least(1.0, 4.0 * "
    "      (length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE "
    "       / greatest(length(text), 1)))) "
    "  + 0.3 * (CASE WHEN "
    "      list_sum([length(x) FOR x IN string_split(text, ' ')])::DOUBLE "
    "        / greatest(len(string_split(text, ' ')), 1) BETWEEN 3.0 AND 8.0 "
    "      THEN 1.0 ELSE 0.5 END), 6)"
)

_LANG_ID_SQL = (
    "WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') w FROM documents), "
    "h AS (SELECT doc_id, "
    "  len(list_filter(w, x -> x IN ('der','die','und','das','ist','nicht','ein','zu'))) s_de, "
    "  len(list_filter(w, x -> x IN ('the','and','of','to','a','in','is','it'))) s_en, "
    "  len(list_filter(w, x -> x IN ('el','la','de','que','los','es','un','una'))) s_es, "
    "  len(list_filter(w, x -> x IN ('le','la','et','les','des','est','un','une'))) s_fr "
    "FROM t), "
    "m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr) best FROM h) "
    "SELECT doc_id, CASE "
    "  WHEN best > 0 AND s_de = best THEN 'de' "
    "  WHEN best > 0 AND s_en = best THEN 'en' "
    "  WHEN best > 0 AND s_es = best THEN 'es' "
    "  WHEN best > 0 AND s_fr = best THEN 'fr' "
    "  ELSE 'und' END AS pred_lang FROM m"
)

_CURATE_SQL = (
    "WITH aug AS ("
    "  SELECT doc_id, text FROM documents"
    "  UNION ALL"
    "  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0), "
    "lang AS (" + _LANG_ID_SQL.replace("FROM documents", "FROM aug") + "), "
    "t AS (SELECT doc_id, text, len(string_split(text, ' ')) ntok, "
    + _QUALITY_EXPR + " AS q FROM aug), "
    "base AS (SELECT t.doc_id, text, "
    "  CASE WHEN ntok < 20 THEN 'too_short' "
    "       WHEN ntok > 80 THEN 'too_long' "
    "       WHEN q < 0.75 THEN 'low_quality' "
    "       WHEN l.pred_lang NOT IN ('en') THEN 'wrong_lang' END AS rej "
    "  FROM t JOIN lang l ON t.doc_id = l.doc_id), "
    "ranked AS (SELECT doc_id, rej, CASE WHEN rej IS NULL THEN "
    "  row_number() OVER (PARTITION BY text ORDER BY (rej IS NOT NULL), doc_id) "
    "  END AS dr FROM base), "
    "fin AS (SELECT doc_id, coalesce(rej, CASE WHEN dr > 1 THEN 'duplicate' END, "
    "  'kept') AS reason FROM ranked) "
    "SELECT doc_id, reason = 'kept' AS keep, reason FROM fin"
)

def _make_weighted_sample_sql() -> str:
    from probabilistic_rs_spark.operators.sampling import weighted_sample_sql

    inner = weighted_sample_sql(
        "(SELECT doc_id, " + _QUALITY_EXPR + " AS w FROM documents)",
        "doc_id",
        "w",
        25,
    )
    return "SELECT doc_id, sample_rank FROM (" + inner + ")"


_WEIGHTED_SAMPLE_SQL = _make_weighted_sample_sql()
