"""The engine's Python worker entry point: workers run without Spark's
archives on their import path, and import the package from any cwd."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_installed_pyspark(spark):
    import pyarrow as pa

    def worker_report(arr):                # nested: pickled by value
        import zipimport

        import pyspark
        n_zip = sum(isinstance(v, zipimport.zipimporter)
                    for v in sys.path_importer_cache.values())
        return pa.array([json.dumps([n_zip, pyspark.__file__])] * len(arr))

    worker_report.__annotations__ = {"arr": pa.Array, "return": pa.Array}
    report = F.arrow_udf(worker_report, "string")
    row = spark.range(1).select(report(F.col("id")).alias("r")).first()
    n_zip, pyspark_file = json.loads(row.r)
    assert n_zip == 0
    assert not any(part.endswith((".zip", ".jar"))
                   for part in pyspark_file.split(os.sep)), pyspark_file


def test_archive_kept_when_its_package_has_no_other_copy(monkeypatch,
                                                         tmp_path):
    from clickhouse_from_scratch_spark.worker_daemon import (
        drop_spark_archives,
    )
    # an installed py4j but no installed pyspark on this path
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    lib = tmp_path / "lib"
    pyspark_zip = str(lib / "pyspark.zip")
    py4j_zip = str(lib / "py4j-0.10.9.9-src.zip")
    jar = str(tmp_path / "spark-core_2.13-4.1.2.jar")
    monkeypatch.setattr(sys, "path", [pyspark_zip, py4j_zip, jar, str(site)])
    monkeypatch.setattr(sys, "path_importer_cache", {
        pyspark_zip: None, pyspark_zip + os.sep + "pyspark": None,
        py4j_zip: None, jar: None})
    assert drop_spark_archives() == [py4j_zip, jar]
    assert sys.path == [pyspark_zip, str(site)]
    assert set(sys.path_importer_cache) >= {
        pyspark_zip, pyspark_zip + os.sep + "pyspark"}
    assert py4j_zip not in sys.path_importer_cache
    assert jar not in sys.path_importer_cache


_FROM_OTHER_CWD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from clickhouse_from_scratch_spark.session import get_spark
from clickhouse_from_scratch_spark.plans.engine import execute_sql
spark = get_spark("cwd_probe", cpus=2)
ip, = execute_sql(spark, "SELECT hex(IPv6StringToNum('2001:db8::1'))",
                  {}).collect()[0]
docs = spark.createDataFrame(
    [(0, "alpha beta gamma delta epsilon"),
     (1, "alpha beta gamma delta epsilon"), (2, "other words entirely")],
    "doc_id long, text string")
pairs = execute_sql(spark, "SELECT id_a, id_b FROM dedupMinHash(t)",
                    {"t": docs}).collect()
print(json.dumps([ip, sorted(map(list, pairs))]))
spark.stop()
"""


def test_workers_import_the_package_from_any_cwd(tmp_path):
    # registry's IPv6 UDF pickles by reference: the worker must import
    # the package although the driver's cwd is not the checkout
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", _FROM_OTHER_CWD, REPO], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    ip, pairs = json.loads(out.stdout.strip().splitlines()[-1])
    assert ip == "20010DB8000000000000000000000001"
    assert pairs == [[0, 1]]
