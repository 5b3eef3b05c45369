"""Python worker set-up the library does for itself.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython before 3.13 that makes each ``zipimporter`` held in
``sys.path_importer_cache`` re-read its archive's whole directory, and a
reused worker holds one per package directory it has imported from a zip:
about 16 into ``pyspark.zip`` (1,328 entries), plus any ``--py-files``
zip. The re-read costs 0.1–0.2 s per task before any kernel runs
(measured on a 4-vCPU VM).

:func:`drop_zip_importers` deletes those cache entries, so the next
task's invalidation has nothing to re-read. Deleting a cache entry
changes no import result: an imported module keeps its loader, and a
later import from the zip builds a new importer from the process-wide
``zipimport._zip_directory_cache`` without reading the archive.
"""

from __future__ import annotations

import sys
import zipimport

# 3.13 made zipimporter.invalidate_caches lazy (it only drops the shared
# directory entry), so there is nothing to save there.
_EAGER_ZIP_INVALIDATE = sys.version_info < (3, 13)


def drop_zip_importers() -> None:
    """Delete the ``zipimporter`` entries of ``sys.path_importer_cache``
    in a Python worker. A no-op on the driver, where no task context
    exists, and on Python 3.13 and later. The kernels of the shared
    wrappers (``sketch_partials``, ``grouped_fold``, ``packed_block_build``,
    the shard cogroups, the HLL/quantile finishers) call it first, which
    also clears the importers that lazy imports re-create during a task."""
    if not _EAGER_ZIP_INVALIDATE:
        return
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
