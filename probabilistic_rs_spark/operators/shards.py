"""Sharded-filter engine: the partitioned layout of the cuckoo and
quotient families.

A fingerprint filter too large to broadcast lives as a distributed shard
table ``(shard int, state binary, n_items long, n_shards int)``: one row
per shard that holds keys, each ``state`` an independent filter over the
keys whose xxhash64 routes to that shard. ``n_shards`` travels with the
states, so every later operation re-derives a key's shard with the
modulus the table was built with. Per-task memory is one shard's state
plus one slice of keys, whatever the total filter size.

A family supplies its routing expression and four functions on its
filter class (:class:`ShardFamily`). This module writes each operation
once, as an Arrow group map:

* build — keys group by shard, one filter is built per group;
* probe — probe rows cogroup with their shard's state row and come back
  as the Arrow table the task received plus the verdict column, so every
  carried column keeps its exact type and value;
* fold — delete keys, or tagged insert/delete ops, cogroup with their
  shard's state row and the shard's new state comes back.
"""

from __future__ import annotations

from typing import Any, Callable, NamedTuple

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from probabilistic_rs_spark.common import op_masks
from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.operators.sketch_agg import grouped_fold
from probabilistic_rs_spark.worker import drop_zip_importers


def _state_schema(count_col: str) -> StructType:
    return StructType(
        [
            StructField("shard", IntegerType(), False),
            StructField("state", BinaryType(), False),
            StructField(count_col, LongType(), False),
        ]
    )


SHARD_SCHEMA = _state_schema("n_items")
DELETE_SCHEMA = _state_schema("n_removed")


class ShardFamily(NamedTuple):
    """What a filter family supplies. ``route(h, n_shards)`` maps the
    xxhash64 column to an int shard id; ``load(blob)`` deserializes a
    shard; ``add(f, hashes)`` inserts a hash batch; ``remove(f,
    distinct_hashes)`` deletes and returns how many it removed; ``new()``
    makes an empty shard (``None`` where no shard is ever created). Every
    filter also has ``contains_hashes``, ``to_bytes`` and ``n_items``."""

    route: Callable[[Column, int], Column]
    load: Callable[[bytes], Any]
    add: Callable[[Any, np.ndarray], None]
    remove: Callable[[Any, np.ndarray], int]
    new: Callable[[], Any] | None = None


def resolve_n_shards(states_df: DataFrame, n_shards: int | None) -> int:
    """The routing modulus for a shard table. When the caller omits
    ``n_shards`` the self-describing column is read (one tiny agg); an
    explicitly passed value short-circuits WITHOUT a scan (probe/delete
    inputs are often unpersisted build plans an eager verification agg
    would re-execute) and is instead verified inside the cogroup task
    (:func:`check_shard_modulus`) — zero extra jobs, still a loud failure
    instead of silent misrouting."""
    if n_shards is not None:
        return int(n_shards)
    if "n_shards" not in states_df.columns:
        raise SketchConfigError(
            "states_df carries no n_shards column — pass n_shards explicitly"
        )
    row = states_df.select(F.max("n_shards").alias("hi"), F.min("n_shards").alias("lo")).head()
    if row is None or row["hi"] is None:
        raise SketchConfigError("empty states_df: build produced no shards")
    if int(row["hi"]) != int(row["lo"]):
        raise SketchConfigError(
            f"states_df mixes shard moduli ({row['lo']} vs {row['hi']}) — "
            "use one build's states at a time"
        )
    return int(row["hi"])


def fold_n_shards(states_df: DataFrame | None, n_shards: int | None, default: int) -> int:
    """The modulus an ops fold routes with: the states' own column when
    ``states_df`` is given (a conflicting explicit value raises — it would
    silently misroute ops), else ``n_shards`` or ``default`` for a table
    that starts empty."""
    if states_df is None:
        return default if n_shards is None else int(n_shards)
    ns = resolve_n_shards(states_df, None)
    if n_shards is not None and int(n_shards) != ns:
        raise SketchConfigError(
            f"n_shards={int(n_shards)} conflicts with the states_df n_shards "
            f"column ({ns}) — omit the parameter (the states are "
            "self-describing) or pass the matching value"
        )
    return ns


def check_shard_modulus(state_tbl, ns: int) -> None:
    """Every shard row carries the ``n_shards`` it was built with, and
    routing with any other modulus silently yields false negatives — so a
    mismatch raises from inside the task, without a driver-side scan."""
    if "n_shards" in state_tbl.column_names and state_tbl.num_rows:
        built = state_tbl.column("n_shards")[0].as_py()
        if built != ns:
            raise SketchConfigError(
                f"n_shards={ns} conflicts with the states' n_shards "
                f"column ({built}) — omit the parameter (the states are "
                "self-describing) or pass the matching value"
            )


def _keyed(df: DataFrame, item_col: str, route, ns: int, *cols) -> DataFrame:
    h = F.xxhash64(F.col(item_col).cast("string"))
    return df.select(*cols, h.alias("__h"), route(h, ns).alias("__shard"))


def _hashes(tbl) -> np.ndarray:
    return tbl.column("__h").to_numpy().view(np.uint64)


def _state_table(shard: int, blob: bytes, count: int, schema):
    import pyarrow as pa

    return pa.Table.from_arrays(
        [
            pa.array([shard], type=pa.int32()),
            pa.array([blob], type=pa.binary()),
            pa.array([count], type=pa.int64()),
        ],
        schema=schema,
    )


def _cogroup(states_df: DataFrame, keyed: DataFrame, fn, schema: StructType) -> DataFrame:
    # n_shards rides along when present so the task can check the modulus
    cols = ["shard", "state"] + (["n_shards"] if "n_shards" in states_df.columns else [])
    return (
        states_df.select(*cols)
        .groupby("shard")
        .cogroup(keyed.groupby("__shard"))
        .applyInArrow(fn, schema)
    )


def build_shards(df: DataFrame, item_col: str, ns: int, family: ShardFamily) -> DataFrame:
    """One filter per shard over the keys routed to it. Shards that
    receive no key have no row. A shard's content is a function of its
    key hashes alone, so the same bytes come out under any partitioning."""
    from pyspark.sql.pandas.types import to_arrow_schema

    new, add = family.new, family.add
    arrow_schema = to_arrow_schema(SHARD_SCHEMA)

    def build(tbl):
        f = new()
        add(f, _hashes(tbl))
        shard = tbl.column("__shard")[0].as_py()
        return _state_table(shard, f.to_bytes(), f.n_items, arrow_schema)

    hashed = _keyed(df, item_col, family.route, ns)
    return grouped_fold(hashed, ["__shard"], build, SHARD_SCHEMA).withColumn(
        "n_shards", F.lit(ns)
    )


def probe_shards(
    probe_df: DataFrame,
    item_col: str,
    states_df: DataFrame,
    ns: int,
    family: ShardFamily,
    out_col: str,
) -> DataFrame:
    """``probe_df`` plus a boolean ``out_col``. Keys routed to a shard
    with no state row are not members.

    Probe rows ride the cogroup inline rather than the distinct-hash +
    verdict-rejoin shape the windowed-Bloom/CMS block probes use: one
    shard holds an item's ENTIRE verdict, so a single full-width exchange
    finishes the job — a dedup pass would add a distinct exchange plus a
    rejoin that re-shuffles the full-width rows anyway whenever the
    verdict relation outgrows the broadcast budget. The block probes have
    no such choice: their k (resp. d) per-item tests land on DIFFERENT
    block rows and must be regrouped."""
    import pyarrow as pa

    if out_col in probe_df.columns:
        raise SketchConfigError(f"probe_df already has a column {out_col!r}")
    load = family.load
    out_schema = StructType(
        list(probe_df.schema.fields) + [StructField(out_col, BooleanType(), False)]
    )

    def probe(state_tbl, probe_tbl):
        drop_zip_importers()
        check_shard_modulus(state_tbl, ns)
        if state_tbl.num_rows and probe_tbl.num_rows:
            f = load(state_tbl.column("state")[0].as_py())
            verdict = f.contains_hashes(_hashes(probe_tbl))
        else:
            verdict = np.zeros(probe_tbl.num_rows, dtype=bool)
        out = probe_tbl.drop_columns(["__h", "__shard"])
        return out.append_column(out_col, pa.array(verdict, type=pa.bool_()))

    probed = _keyed(probe_df, item_col, family.route, ns, "*")
    return _cogroup(states_df, probed, probe, out_schema)


def _fold(states_df: DataFrame, keyed: DataFrame, ns: int, family: ShardFamily) -> DataFrame:
    """Apply each shard's slice of ``keyed`` to its state. With an
    ``__op`` column the slice is an ops log: distinct inserts not already
    present apply first, then distinct deletes, a missing shard is
    created, and the count is ``n_items``. Without one the slice is a
    delete set: a missing shard is passed over (its keys were never
    inserted) and the count is ``n_removed``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    load, add, remove, new = family.load, family.add, family.remove, family.new
    ops = "__op" in keyed.columns
    schema = SHARD_SCHEMA if ops else DELETE_SCHEMA
    arrow_schema = to_arrow_schema(schema)

    def fold(key, state_tbl, key_tbl):
        drop_zip_importers()
        check_shard_modulus(state_tbl, ns)
        if state_tbl.num_rows:
            f = load(state_tbl.column("state")[0].as_py())
        elif ops and key_tbl.num_rows:
            f = new()
        else:
            return arrow_schema.empty_table()
        h = _hashes(key_tbl)
        if ops:
            is_ins, is_del = op_masks(key_tbl.column("__op").to_pandas())
            ins = np.unique(h[is_ins])
            if len(ins):
                # idempotent across generations: a re-inserted key whose
                # fingerprint the shard holds is not stored twice
                ins = ins[~f.contains_hashes(ins)]
            if len(ins):
                add(f, ins)
            dels = np.unique(h[is_del])
            if len(dels):
                remove(f, dels)
            count = int(f.n_items)
        else:
            count = remove(f, np.unique(h)) if len(h) else 0
        return _state_table(key[0].as_py(), f.to_bytes(), count, arrow_schema)

    return _cogroup(states_df, keyed, fold, schema).withColumn("n_shards", F.lit(ns))


def delete_shards(
    states_df: DataFrame, delete_df: DataFrame, item_col: str, ns: int, family: ShardFamily
) -> DataFrame:
    """Set-style deletion, shard-locally: ``(shard, state, n_removed,
    n_shards)``; state bytes never visit the driver."""
    return _fold(states_df, _keyed(delete_df, item_col, family.route, ns), ns, family)


def apply_ops_shards(
    states_df: DataFrame | None,
    ops_df: DataFrame,
    item_col: str,
    op_col: str,
    ns: int,
    family: ShardFamily,
) -> DataFrame:
    """Fold one generation of an ops log into the shard table, starting
    from an empty table when ``states_df`` is None: ``(shard, state,
    n_items, n_shards)``. Op tags other than exactly ``'insert'`` /
    ``'delete'`` (null included) raise."""
    if states_df is None:
        states_df = ops_df.sparkSession.createDataFrame([], SHARD_SCHEMA)
    keyed = _keyed(ops_df, item_col, family.route, ns, F.col(op_col).alias("__op"))
    return _fold(states_df, keyed, ns, family)
