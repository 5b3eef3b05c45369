"""The generic grouped merge (``sketch_merge`` over ``grouped_fold``) and
the Arrow grouping of ``sketch_partials``:

* null group keys — a null is one group, exactly as in Spark's own
  ``groupBy`` — for every atomic key type and every kind of partition
  (no nulls, nulls mixed with values, all nulls), checked against
  Spark's exact ``count`` / ``count_distinct``;
* nested (struct) keys fail on the driver before any job launches;
* merged states are bit-identical to a pid-sorted driver fold of the
  collected partials, on the grouped, global and tree-merged paths;
* the global builds (``build_global_state``) give the bytes of the
  ``sketch_aggregate`` state on both sides of the tree-fanin threshold.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.operators.sketch_agg import (
    SketchSpec,
    sketch_aggregate,
    sketch_partials,
    with_hll_estimate,
)

hyp = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_KEY_POOLS = {
    "int": (IntegerType(), [-3, 0, 7]),
    "long": (LongType(), [-(2**40), 1, 2**50]),
    "string": (StringType(), ["", "a", "ü-key"]),
    "date": (DateType(), [dt.date(1970, 1, 1), dt.date(2024, 2, 29), dt.date(2099, 12, 31)]),
}
_KINDS = ("none", "mixed", "all_null")
_VALUES = st.integers(0, 40).map(str)


@st.composite
def _partition(draw, pool, kind):
    """Rows ``(g, v)`` of one partition of the given null kind."""
    if kind == "all_null":
        keys = draw(st.lists(st.none(), min_size=1, max_size=12))
    elif kind == "none":
        keys = draw(st.lists(st.sampled_from(pool), min_size=1, max_size=12))
    else:
        keys = [None, draw(st.sampled_from(pool))] + draw(
            st.lists(st.one_of(st.none(), st.sampled_from(pool)), max_size=10)
        )
        keys = draw(st.permutations(keys))
    return [(k, draw(_VALUES)) for k in keys]


def _frame(spark, schema, partitions):
    """One Spark partition per list in ``partitions``, contents exact."""
    frames = [spark.createDataFrame(rows, schema).coalesce(1) for rows in partitions]
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    return out


@pytest.mark.parametrize("kind", _KINDS)
@pytest.mark.parametrize("key_type", sorted(_KEY_POOLS))
def test_null_group_keys_match_spark_groupby(spark, key_type, kind):
    """The first partition has the parametrized kind; up to two more
    partitions draw theirs, so a null group can also span partitions of
    different kinds."""
    dtype, pool = _KEY_POOLS[key_type]
    schema = StructType(
        [StructField("g", dtype, True), StructField("v", StringType(), False)]
    )
    spec = SketchSpec("u", "hll", "v", {"p": 12})

    @given(
        first=_partition(pool, kind),
        rest=st.lists(
            st.sampled_from(_KINDS).flatmap(lambda k: _partition(pool, k)),
            max_size=2,
        ),
    )
    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def check(first, rest):
        df = _frame(spark, schema, [first] + rest)
        got = {
            r["g"]: (r["n_updates"], r["est"])
            for r in with_hll_estimate(
                sketch_aggregate(df, ["g"], [spec]), spec.state_col, "est"
            ).collect()
        }
        want = {
            r["g"]: (r["n"], r["d"])
            for r in df.groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("v").alias("d"))
            .collect()
        }
        # sparse-mode HLL counts distinct hashes exactly at these sizes
        assert got == want

    check()


def test_struct_group_key_fails_on_driver(spark):
    df = spark.range(4).select(
        F.struct((F.col("id") % 2).alias("a")).alias("g"), F.col("id").alias("v")
    )
    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(None), default=-1)
    with pytest.raises(SketchConfigError, match="nested"):
        sketch_aggregate(df, ["g"], [SketchSpec("u", "hll", "v", {"p": 10})])
    assert max(tracker.getJobIdsForGroup(None), default=-1) == last_job


_SPECS = [
    SketchSpec("hll", "hll", "v", {"p": 10}),
    SketchSpec("kll", "kll", "x", {"k": 32}),
    SketchSpec("cms", "cms", "v", {"eps": 0.01, "delta": 0.05}),
    SketchSpec("bloom", "bloom", "v", {"capacity": 2000}),
    SketchSpec("theta", "theta", "v", {"k": 64}),
    SketchSpec("mg", "mg", "v", {"k": 8}),
]


def _fold(cls, blobs: list[bytes]) -> bytes:
    sk = cls.from_bytes(blobs[0])
    fold = getattr(sk, "merge_bytes", None)
    for b in blobs[1:]:
        if fold is not None:
            fold(b)
        else:
            sk.merge(cls.from_bytes(b))
    return sk.to_bytes()


def _driver_fold(partials, group_cols, tree_fanin):
    """Reference merge on the driver: per group, fold the partials in
    pid order; with ``tree_fanin``, first fold each ``pid % fanin``
    bucket, then the bucket states in order of their smallest pid."""
    groups: dict = {}
    for r in partials:
        groups.setdefault(tuple(r[g] for g in group_cols), []).append(r)
    out = {}
    for key, rows in groups.items():
        rows.sort(key=lambda r: r["__pid"])
        if tree_fanin:
            buckets: dict = {}
            for r in rows:
                buckets.setdefault(r["__pid"] % tree_fanin, []).append(r)
            levels = sorted(buckets.values(), key=lambda b: b[0]["__pid"])
        else:
            levels = [rows]
        states = []
        for spec in _SPECS:
            cls = type(spec.make())
            per_bucket = [_fold(cls, [bytes(r[spec.state_col]) for r in b]) for b in levels]
            states.append(_fold(cls, per_bucket))
        out[key] = (states, sum(r["n_updates"] for r in rows))
    return out


@pytest.mark.parametrize(
    "group_cols,tree_fanin",
    [(["g"], None), ([], None), (["g"], 2)],
    ids=["grouped", "global", "tree"],
)
def test_merged_states_equal_pid_sorted_driver_fold(spark, group_cols, tree_fanin):
    # six range partitions: deterministic partition contents and row order
    df = spark.range(0, 6000, 1, numPartitions=6).select(
        (F.col("id") % 5).alias("g"),
        (F.col("id") * 7919 % 1500).alias("v"),
        ((F.col("id") * 104729) % 10007 / 7.0).alias("x"),
    )
    want = _driver_fold(sketch_partials(df, group_cols, _SPECS).collect(), group_cols, tree_fanin)
    merged = sketch_aggregate(df, group_cols, _SPECS, tree_fanin=tree_fanin).collect()
    got = {
        tuple(r[g] for g in group_cols): (
            [bytes(r[s.state_col]) for s in _SPECS],
            r["n_updates"],
        )
        for r in merged
    }
    assert got.keys() == want.keys()
    for key in want:
        for spec, g, w in zip(_SPECS, got[key][0], want[key][0]):
            assert g == w, (key, spec.kind)
        assert got[key][1] == want[key][1]


@pytest.mark.parametrize("partitions", [4, 200])
def test_global_builds_equal_sketch_aggregate_state(spark, partitions):
    # the CMS, t-digest and KLL global builds run build_global_state: the
    # fanin-64 tree at 200 partitions; at 4, a driver fold for t-digest
    # and KLL and one executor merge for CMS (FOLD_ON_EXECUTOR); every
    # path must give the bytes of the sketch_aggregate state
    from probabilistic_rs_spark.operators.heavy_hitters import build_cms_state
    from probabilistic_rs_spark.operators.quantiles import (
        build_kll_state,
        build_tdigest_state,
    )
    from probabilistic_rs_spark.operators.sketch_agg import (
        _global_strategy,
        resolve_tree_fanin,
    )

    df = spark.range(0, 20_000, 1, numPartitions=partitions).select(
        (F.col("id") * 7919 % 1500).cast("string").alias("k"),
        ((F.col("id") * 104729) % 10007 / 7.0).alias("x"),
    )
    fanin = resolve_tree_fanin(df, "auto")
    assert fanin == (None if partitions == 4 else 64)
    builds = [
        (build_cms_state(df, "k", eps=0.01, delta=0.01),
         SketchSpec("cms", "cms", "k", {"eps": 0.01, "delta": 0.01})),
        (build_tdigest_state(df, "x"), SketchSpec("td", "tdigest", "x", {"delta": 200.0})),
        (build_kll_state(df, "x"), SketchSpec("kll", "kll", "x", {"k": 200})),
    ]
    for got, spec in builds:
        on_executor = spec.kind == "cms"
        assert _global_strategy(df, spec, "auto") == (fanin or (1 if on_executor else None))
        merged = sketch_aggregate(df, [], [spec], tree_fanin=fanin)
        assert got == bytes(merged.select(spec.state_col).head()[0]), spec.kind
