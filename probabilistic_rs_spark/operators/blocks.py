"""Block-table probe engine: the partitioned layout of the CMS matrix and
of the windowed-Bloom level bit vectors.

A block table holds a structure too large to broadcast as rows of
``(join keys…, block, payload array<bigint>, geometry columns…)``. The
build also writes its geometry into the column metadata of the payload
(``GEOMETRY``), which Spark keeps through ``persist``, parquet,
``select``, ``where`` and joins, so a probe plans from the schema with no
Spark job. ``unionByName`` keeps only the first child's metadata, so
every block row is also checked against the planned geometry inside the
task. A family supplies its hashes, targets, per-key fold and default
(:func:`probe_block_table`); the rest is written once here.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

from probabilistic_rs_spark.common import block_geometry, ensure_persisted

GEOMETRY = "block_geometry"  # payload metadata key: {geometry column: int}


def resolve_geometry(blocks_df: DataFrame, payload: str, geom_cols: list[str], what: str):
    """``(geometry ints, checked blocks)`` for a probe of ``blocks_df``
    (persisted first, ``common.ensure_persisted``), or None when a table
    without geometry metadata is empty. The checked table raises "mixes
    ``what``" inside the task on a row whose geometry columns differ."""
    blocks_df = ensure_persisted(blocks_df)
    meta = blocks_df.schema[payload].metadata.get(GEOMETRY, {})
    if all(c in meta for c in geom_cols):
        geom = tuple(int(meta[c]) for c in geom_cols)
    else:
        geom = block_geometry(blocks_df, geom_cols)
        if geom is None:
            return None
    planned = " AND ".join(f"{c} <=> {v}" for c, v in zip(geom_cols, geom))
    msg = (
        f"blocks_df mixes {what}: a block row has ({', '.join(geom_cols)}) = "
        f"({', '.join(['%s'] * len(geom_cols))}), the table's is {geom} — "
        "probe one build's blocks at a time"
    ).replace("'", "\\'")
    check = (
        f"CASE WHEN {planned} THEN true ELSE "
        f"raise_error(format_string('{msg}', {', '.join(geom_cols)})) END"
    )
    return geom, blocks_df.where(F.expr(check))


def probe_block_table(
    probe_df: DataFrame,
    out_col: str,
    hashes: dict[str, Column],
    targets: list[str],
    per_block: int,
    blocks: DataFrame,
    on: list[str],
    fold: Callable[[DataFrame], DataFrame],
    default: Column,
) -> DataFrame:
    """``probe_df`` plus ``out_col``, looked up in a block table.

    The verdict is a pure function of the ``hashes`` columns, so probe
    rows shuffle and rejoin by hash, never by key value (the hashes are
    non-null even for a null key). Each distinct hash tuple explodes to
    ``targets``: SQL ``named_struct`` texts over the hashes (a few py4j
    calls to plan, not a few per Column operation), each holding the
    payload index ``__cell`` and the family's other join keys.
    ``__cell`` splits into its ``block`` and the ``__off`` within it, and
    the targets LEFT-join ``blocks`` on ``on`` (an absent block leaves
    the payload null). ``fold(joined)`` returns ``(hashes…, __v)`` per
    key with a verdict; other probe rows read ``default``."""
    hs = list(hashes)
    pr = probe_df.select("*", *(e.alias(n) for n, e in hashes.items()))
    exploded = (
        pr.select(*hs)
        .distinct()
        .selectExpr(*hs, f"explode(array({', '.join(targets)})) AS __t")
        .selectExpr(
            *hs,
            "__t.*",
            f"CAST(__t.__cell DIV {per_block} AS INT) AS block",
            f"CAST(__t.__cell % {per_block} AS INT) AS __off",
        )
        .drop("__cell")
    )
    verdicts = fold(exploded.join(blocks, on, "left"))
    out = pr.join(verdicts, hs, "left")
    return out.withColumn(out_col, F.coalesce(F.col("__v"), default)).drop(*hs, "__v")
