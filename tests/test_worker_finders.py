"""A Python worker that runs one of the package's UDFs holds no
``zipimporter`` of a sub-package inside an archive, and no ``.jar`` on
``sys.path``, so the ``importlib.invalidate_caches()`` pyspark makes at
the start of every task re-reads each Python archive's directory once,
not once per sub-package, and never the spark-core jar's
(``pandasschema_spark._worker.trim_worker_import_caches``)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from pandasschema_spark import Column, Schema
from pandasschema_spark._worker import _drop_jars_from_sys_path
from pandasschema_spark.clips_suite import _parse_ordinal
from pandasschema_spark.validation import CustomRowValidation

N_ROWS = 64


def _worker_pyspark_file(spark) -> str:
    def where(batches):
        import pandas as pd
        import pyspark

        for _ in batches:
            yield pd.DataFrame({"f": [pyspark.__file__]})

    return spark.range(1, numPartitions=1).mapInPandas(where, "f string").first()["f"]


def test_reused_worker_holds_no_zip_subpackage_finders(spark):
    if ".zip" not in _worker_pyspark_file(spark):
        pytest.skip("the Python workers do not import pyspark from an archive")

    # the kernel parses clip ids with the package's own parser, as the
    # clips suite's checks do, so unpickling it imports the package on
    # the worker. Clip i fails while i < the number of prefixed
    # zipimporters the worker's cache holds, so the violation count
    # reads that number.
    kernel = lambda b: b["clip_id"].map(_parse_ordinal).astype("int64") >= sum(  # noqa: E731
        1 for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.prefix)
    df = spark.range(N_ROWS, numPartitions=1).selectExpr(
        "format_string('clip_%012d', id) AS clip_id", "id AS i")
    schema = Schema([Column("clip_id", [CustomRowValidation(["clip_id", "i"], kernel, "probe")]),
                     Column("i", [])])

    # two one-partition jobs in sequence: the second task runs on a
    # reused worker, after that task's own cache invalidation
    counts = [schema.validate(df).violations.count() for _ in range(2)]
    assert counts[1] == 0, counts


def test_reused_worker_has_no_jar_on_sys_path(spark):
    # clip i fails while i < the number of .jar entries on the worker's
    # sys.path (sys.path_importer_cache keys included), as above
    kernel = lambda b: b["clip_id"].map(_parse_ordinal).astype("int64") >= sum(  # noqa: E731
        1 for p in list(sys.path) + list(sys.path_importer_cache)
        if isinstance(p, str) and p.endswith(".jar"))
    df = spark.range(N_ROWS, numPartitions=1).selectExpr(
        "format_string('clip_%012d', id) AS clip_id", "id AS i")
    schema = Schema([Column("clip_id", [CustomRowValidation(["clip_id", "i"], kernel, "probe")]),
                     Column("i", [])])

    counts = [schema.validate(df).violations.count() for _ in range(2)]
    assert counts[1] == 0, counts


def test_jar_holding_python_stays_on_sys_path(tmp_path, monkeypatch):
    # Spark puts --packages jars on the Python path because some ship
    # Python modules; only a jar with none leaves it
    with_py, classes_only = str(tmp_path / "with_py.jar"), str(tmp_path / "classes.jar")
    with zipfile.ZipFile(with_py, "w") as z:
        z.writestr("jar_probe_module.py", "VALUE = 7\n")
    with zipfile.ZipFile(classes_only, "w") as z:
        z.writestr("org/probe/Probe.class", b"\xca\xfe\xba\xbe")
    monkeypatch.setattr(sys, "path", [classes_only, with_py] + sys.path)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))

    _drop_jars_from_sys_path()

    assert with_py in sys.path and classes_only not in sys.path
    try:
        assert importlib.import_module("jar_probe_module").VALUE == 7
    finally:
        sys.modules.pop("jar_probe_module", None)
