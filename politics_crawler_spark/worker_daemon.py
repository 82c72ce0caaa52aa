"""PySpark's worker daemon, importing pyspark from outside Spark's archives.

Spark puts ``pyspark.zip``, the py4j zip and spark-core's jar first on its
Python workers' path, so the workers import pyspark out of a zip and keep a
``zipimporter`` per archive directory in ``sys.path_importer_cache``. Every
task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
``zipimporter`` then re-reads its archive's whole central directory:
0.19-0.27 s per task on a 4-vCPU host, paid whatever the task's rows.

When pyspark and py4j also resolve outside those archives, and that pyspark
is the release the archives hold, this module drops the archives before
pyspark is imported, so the forked workers import it from site-packages and a
task's ``invalidate_caches()`` only resets directory finders (~0.13 ms).
Otherwise the daemon runs with Spark's path as it is. On a ``local``
master ``session.get_spark`` starts the daemon through this module
(``spark.python.daemon.module``).
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _is_spark_archive(entry: str) -> bool:
    # Spark's own archives only: a --py-files zip or the interpreter's
    # stdlib zip holds code found nowhere else.
    name = os.path.basename(entry)
    return name.endswith(".jar") or name == "pyspark.zip" or (
        name.startswith("py4j-") and name.endswith(".zip")
    )


def _release(spec) -> str | None:
    """The ``__version__`` in ``version.py`` next to a pyspark package spec,
    read through the spec's own loader, so a zip archive works too."""
    where = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        found = _VERSION.search(spec.loader.get_data(where).decode())
    except (OSError, UnicodeDecodeError):
        return None
    return found and found.group(1)


def _without_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's archives; ``path`` itself when pyspark or
    py4j resolves only inside them, or the pyspark outside differs in
    release from the one ``path`` imports now."""
    kept = [p for p in path if not _is_spark_archive(p)]
    if len(kept) == len(path):
        return path
    find = importlib.machinery.PathFinder.find_spec
    outside, now = find("pyspark", kept), find("pyspark", path)
    if find("py4j", kept) is None or outside is None or now is None:
        return path
    release = _release(outside)
    return kept if release is not None and release == _release(now) else path


if __name__ == "__main__":
    sys.path[:] = _without_spark_archives(sys.path)
    # drops the zipimporters cached while finding this module and above
    sys.path_importer_cache.clear()
    import pyspark.daemon

    pyspark.daemon.manager()
