"""PySpark worker daemon whose workers keep no stale archive importers.

Every PySpark task ends its file setup with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes each
cached ``zipimporter`` re-read its archive's whole directory, and a warm
worker holds one per package it imported from ``pyspark.zip`` (1,328 files),
plus one for the spark-core jar (5,359 entries, no Python module) that Spark
puts on every worker's path: ~100 ms per task, in every Python stage.

Run as ``python -m malstrom_spark.worker_daemon`` (the session names it in
``spark.python.daemon.module``), it trims ``sys.path`` before pyspark loads,
then runs the stock daemon, whose forked workers inherit the trimmed path:

- ``pyspark.zip`` goes, if a directory install of the same pyspark version
  is importable without it; otherwise it stays;
- every archive that holds no Python module goes;
- the importer-cache entries under a dropped archive go with it.

It also ignores pandas' "concatenation with empty or all-NA entries"
``FutureWarning`` raised from ``pyspark.sql.pandas.serializers``: PySpark's
``applyInPandasWithState`` serializer concatenates all-NA padding frames
for every output chunk, and each warning went to the executor's stderr.

Imported rather than run, it does nothing.
"""

from __future__ import annotations

import os
import sys
import warnings
import zipfile
from importlib.machinery import PathFinder

_VERSION_FILE = "pyspark/version.py"


def _drop_archives(path: list[str]) -> list[str]:
    """The archives of ``path`` that workers do not need."""
    names = {}
    for p in path:
        if zipfile.is_zipfile(p):
            with zipfile.ZipFile(p) as z:
                names[p] = [n for n in z.namelist() if n.endswith(".py")]
    drop = [p for p, py in names.items() if not py]
    dirs = [p for p in path if p not in names]
    spec = PathFinder.find_spec("pyspark", dirs)
    if spec is not None and spec.submodule_search_locations:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            installed = f.read()
        for p, py in names.items():
            if _VERSION_FILE in py:
                with zipfile.ZipFile(p) as z:
                    if z.read(_VERSION_FILE) == installed:
                        drop.append(p)
    return drop


if __name__ == "__main__":
    try:
        dropped = _drop_archives(sys.path)
    except (OSError, zipfile.BadZipFile):  # an unreadable entry: keep the path as it is
        dropped = []
    sys.path[:] = [p for p in sys.path if p not in dropped]
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]

    warnings.filterwarnings(
        "ignore",
        message=".*concatenation with empty or all-NA entries",
        category=FutureWarning,
        module=r"pyspark\.sql\.pandas\.serializers\Z",
    )

    from pyspark.daemon import manager

    manager()
