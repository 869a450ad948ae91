"""The Python worker daemon imports pyspark unzipped: Spark's worker
path names pyspark.zip, the py4j zip and the spark-core jar, and every
task's ``importlib.invalidate_caches()`` made each cached zipimporter
re-read its archive's directory (0.12-0.18 s of CPU per task)."""

from __future__ import annotations

import os

from iceberg_aws_event_based_table_management_spark.worker.ebtm_daemon import worker_path


def _touch(path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "w").close()


def test_python_task_holds_no_zip_importer(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "zip_importers": [
                    sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
                ],
                "jars": [sum(p.endswith(".jar") for p in sys.path)],
                "version": [pyspark.__version__],
            }
        )

    schema = "zip_importers long, jars long, version string"
    (row,) = spark.range(0, 1, 1, numPartitions=1).mapInPandas(probe, schema).collect()
    assert row["zip_importers"] == 0
    assert row["jars"] == 0
    assert row["version"] == spark.version


def test_distribution_layout(tmp_path):
    home, site = str(tmp_path / "spark"), str(tmp_path / "site")
    _touch(os.path.join(home, "python", "pyspark", "__init__.py"))
    _touch(os.path.join(site, "py4j", "__init__.py"))
    lib = os.path.join(home, "python", "lib")
    path = [
        "/work",
        os.path.join(lib, "pyspark.zip"),
        os.path.join(lib, "py4j-0.10.9.9-src.zip"),
        os.path.join(home, "jars", "spark-core_2.13-4.1.2.jar"),
        site,
    ]
    assert worker_path(path, home) == ["/work", os.path.join(home, "python"), site]
    # py4j unpacked nowhere: its zip stays
    assert worker_path(path[:-1], home) == ["/work", os.path.join(home, "python"), path[2]]


def test_pip_layout(tmp_path):
    site = str(tmp_path / "site")
    home = os.path.join(site, "pyspark")  # a pip install's SPARK_HOME is the package
    _touch(os.path.join(home, "__init__.py"))
    _touch(os.path.join(home, "python", "pyspark", "shell.py"))  # not a package
    _touch(os.path.join(site, "py4j", "__init__.py"))
    lib = os.path.join(home, "python", "lib")
    path = [
        "/work",
        os.path.join(lib, "pyspark.zip"),
        os.path.join(lib, "py4j-0.10.9.9-src.zip"),
        os.path.join(home, "jars", "spark-core_2.13-4.1.2.jar"),
        site,
    ]
    assert worker_path(path, home) == ["/work", site]


def test_no_unpacked_copy_leaves_the_path(tmp_path):
    home = str(tmp_path / "spark")
    lib = os.path.join(home, "python", "lib")
    _touch(os.path.join(lib, "pyspark.zip"))
    path = [
        "/work",
        os.path.join(lib, "pyspark.zip"),
        os.path.join(lib, "py4j-0.10.9.9-src.zip"),
        os.path.join(home, "jars", "spark-core_2.13-4.1.2.jar"),
    ]
    assert worker_path(path, home) == path
    assert worker_path(path, None) == path
