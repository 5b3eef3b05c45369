"""Python worker set-up: the library keeps a reused worker's import cache
free of ``zipimporter`` entries, which PySpark's per-task
``importlib.invalidate_caches()`` would otherwise make re-read their
whole archive (``probabilistic_rs_spark/worker.py``). Pinned as a count
of cache entries, not as a time."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from probabilistic_rs_spark.operators.sketch_agg import (
    SketchSpec,
    sketch_aggregate,
    with_hll_estimate,
)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from Python 3.13: nothing to drop",
)


def _zip_importers() -> int:
    return sum(
        isinstance(f, zipimport.zipimporter)
        for f in list(sys.path_importer_cache.values())
    )


def _worker_reports(spark) -> list:
    """``(pid, zipimporter entries, library loaded)`` as each task of a
    plain 16-partition ``mapInArrow`` found its worker on entry. The probe
    itself never touches the library."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in list(sys.path_importer_cache.values())
        )
        loaded = "probabilistic_rs_spark" in sys.modules
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "zips": [zips], "loaded": [loaded]},
            schema=pa.schema(
                [("pid", pa.int64()), ("zips", pa.int64()), ("loaded", pa.bool_())]
            ),
        )

    return (
        spark.range(0, 16, numPartitions=16)
        .mapInArrow(probe, "pid long, zips long, loaded boolean")
        .collect()
    )


def test_workers_that_ran_the_library_hold_no_zip_importers(spark):
    df = spark.createDataFrame(
        [(f"h{i % 5}", f"u{i}") for i in range(400)], "g string, v string"
    ).repartition(8)
    agg = sketch_aggregate(df, ["g"], [SketchSpec("u", "hll", "v", {"p": 10})])
    est = with_hll_estimate(agg, "u_state", "u_est").orderBy("g").collect()
    assert [r["g"] for r in est] == [f"h{i}" for i in range(5)]
    assert all(75 <= r["u_est"] <= 85 for r in est)

    reports = _worker_reports(spark)
    with_lib = [r["zips"] for r in reports if r["loaded"]]
    assert with_lib, f"no probed worker had run the library: {reports}"
    assert with_lib == [0] * len(with_lib), f"zip importers kept: {reports}"


def test_driver_keeps_its_zip_importers(spark, tmp_path):
    from probabilistic_rs_spark.worker import drop_zip_importers

    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("prs_zip_probe_mod.py", "X = 1\n")
    sys.path_importer_cache[str(archive)] = zipimport.zipimporter(str(archive))
    try:
        before = _zip_importers()
        drop_zip_importers()
        df = spark.createDataFrame([("a", "x"), ("b", "y")], "g string, v string")
        agg = sketch_aggregate(df, ["g"], [SketchSpec("u", "hll", "v", {"p": 10})])
        with_hll_estimate(agg, "u_state", "u_est").collect()
        assert str(archive) in sys.path_importer_cache
        assert _zip_importers() == before
    finally:
        sys.path_importer_cache.pop(str(archive), None)
