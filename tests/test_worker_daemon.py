"""Python workers import pyspark outside Spark's archives (worker_daemon)."""

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_pyspark_outside_archives(spark):
    """A worker's path holds none of Spark's archives, its importer cache no
    zipimporter (each would re-read its archive on every task), and pyspark
    comes from a directory."""

    @pandas_udf(StringType())
    def worker_state(s: pd.Series) -> pd.Series:
        import json
        import sys

        import pyspark

        state = {
            "path": sys.path,
            "pyspark": pyspark.__file__,
            "importers": [type(v).__name__ for v in sys.path_importer_cache.values()],
        }
        return pd.Series([json.dumps(state)] * len(s))

    state = json.loads(spark.range(1).select(worker_state("id")).first()[0])
    # the interpreter lists its stdlib zip even when no such file exists
    archives = [p for p in state["path"] if p.endswith((".zip", ".jar")) and os.path.isfile(p)]
    assert archives == []
    assert "zipimporter" not in state["importers"]
    assert not any(d.endswith((".zip", ".jar")) for d in state["pyspark"].split(os.sep))


def test_only_local_masters_start_the_engine_daemon():
    """Executors on other hosts cannot import the package when their daemon
    starts (``--py-files`` reach a worker per task), so they keep Spark's."""
    from politics_crawler_spark.session import _builder

    daemon = "spark.python.daemon.module"
    for master in ("local", "local[2]", "local[2,3]"):
        conf = _builder("t", master, 2)._options
        assert conf[daemon] == "politics_crawler_spark.worker_daemon"
    for master in ("spark://h:7077", "yarn", "k8s://https://h:6443", "local-cluster[2,1,1024]"):
        assert daemon not in _builder("t", master, 2)._options


def _archive(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _package(root, name, release=None):
    os.makedirs(root / name, exist_ok=True)
    (root / name / "__init__.py").write_text("")
    if release:
        (root / name / "version.py").write_text(f'__version__: str = "{release}"\n')


def test_archives_dropped_only_when_the_same_release_resolves_outside(tmp_path):
    from politics_crawler_spark.worker_daemon import _without_spark_archives

    pyspark_zip = _archive(
        tmp_path / "pyspark.zip",
        {"pyspark/__init__.py": "", "pyspark/version.py": '__version__ = "4.1.2"\n'},
    )
    py4j_zip = _archive(tmp_path / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""})
    site = tmp_path / "site"
    _package(site, "py4j")
    path = [pyspark_zip, py4j_zip, str(site)]

    # pyspark exists only inside the zip
    assert _without_spark_archives(path) == path

    # a different pyspark release outside the zip
    _package(site, "pyspark", "4.0.0")
    assert _without_spark_archives(path) == path

    # the same release outside, py4j too
    _package(site, "pyspark", "4.1.2")
    assert _without_spark_archives(path) == [str(site)]

    # py4j only inside its zip
    no_py4j = tmp_path / "no_py4j"
    _package(no_py4j, "pyspark", "4.1.2")
    path = [pyspark_zip, py4j_zip, str(no_py4j)]
    assert _without_spark_archives(path) == path


def test_daemon_resolves_from_any_cwd(tmp_path):
    """The repo is on the driver's sys.path only: workers started in another
    cwd still import the daemon module, through the PYTHONPATH get_spark
    gives them."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import LongType
        from politics_crawler_spark.session import get_spark

        spark = get_spark(app_name="pcs-cwd", master="local[1]", shuffle_partitions=1)
        plus_one = pandas_udf(lambda s: s + 1, LongType())
        print("SUM", spark.range(10).select(plus_one("id")).groupBy().sum().first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "SUM 55" in out.stdout, out.stderr[-3000:]
