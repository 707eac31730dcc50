"""Python workers import pyspark from its installed directory, not Spark's zip.

``search_engine_spark.worker_daemon`` drops Spark's own archives
(``pyspark.zip``, the py4j source zip, the spark-core jar) from the worker's
path, so no task pays for ``importlib.invalidate_caches()`` re-reading them.
These tests pin the live worker state, the path edit's guards, the driver's
choice of daemon, and that importing the package leaves pyspark unimported.
"""

import os
import subprocess
import sys
import zipfile

import pyspark

from search_engine_spark.session import worker_daemon_conf
from search_engine_spark.worker_daemon import strip_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "spark.python.daemon.module"


def test_reused_worker_holds_no_archive(spark):
    def report(batches):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({
            "zipimporters": [sum(isinstance(f, zipimport.zipimporter)
                                 for f in sys.path_importer_cache.values())],
            "archives": [sum(os.path.isfile(p) for p in sys.path)],
            "pyspark_file": [pyspark.__file__],
            "version": [pyspark.__version__],
        })

    schema = ("zipimporters long, archives long, pyspark_file string, "
              "version string")
    df = spark.range(1, numPartitions=1).mapInPandas(report, schema)
    for row in df.collect() + df.collect():
        assert row.zipimporters == 0
        assert row.archives == 0
        assert os.path.isfile(row.pyspark_file), row.pyspark_file
        assert row.version == pyspark.__version__


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _layout(tmp_path, zip_version="4.1.2", site_pyspark=True):
    """A Spark-style worker path over fake archives and a site directory."""
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if site_pyspark:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text('__version__ = "4.1.2"\n')
    spark_zip = _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": f'__version__ = "{zip_version}"\n',
    })
    py4j_zip = _zip(tmp_path / "py4j-0.10.9.9-src.zip",
                    {"py4j/__init__.py": ""})
    jar = _zip(tmp_path / "spark-core_2.13-4.1.2.jar", {"A.class": "x"})
    user = _zip(tmp_path / "engine.zip", {"engine/__init__.py": ""})
    return [str(tmp_path), spark_zip, py4j_zip, jar, user, str(site)]


def test_strip_drops_exactly_spark_archives(tmp_path):
    path = _layout(tmp_path)
    assert strip_spark_archives(path) == [path[0], path[4], path[5]]


def test_strip_keeps_path_on_version_mismatch(tmp_path):
    path = _layout(tmp_path, zip_version="4.0.0")
    assert strip_spark_archives(path) == path


def test_strip_keeps_path_without_installed_pyspark(tmp_path):
    path = _layout(tmp_path, site_pyspark=False)
    assert strip_spark_archives(path) == path


def test_daemon_selected_only_where_it_can_import(tmp_path):
    other = str(tmp_path)
    assert worker_daemon_conf("local[4]", REPO, "") == {
        KEY: "search_engine_spark.worker_daemon"}
    assert KEY in worker_daemon_conf("local", other, os.pathsep + REPO)
    # the verify recipe: spark-submit --py-files engine.zip from another
    # directory, the package on neither the cwd nor PYTHONPATH
    submit_path = os.pathsep.join(
        os.path.join(other, z) for z in ("engine.zip", "pyspark.zip"))
    assert KEY not in worker_daemon_conf("local[16]", other, submit_path)
    assert KEY not in worker_daemon_conf("spark://host:7077", REPO, REPO)
    assert KEY not in worker_daemon_conf("local-cluster[2,1,1024]", REPO, REPO)


def test_package_import_leaves_pyspark_unimported():
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, search_engine_spark; print('pyspark' in sys.modules)"],
        cwd=REPO, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False"
