"""A Python worker that runs one of the package's UDFs holds no
``zipimporter`` of a sub-package inside an archive, so the
``importlib.invalidate_caches()`` pyspark makes at the start of every
task re-reads each archive's directory once, not once per sub-package
(``pandasschema_spark._drop_zip_subpackage_finders``)."""

import sys
import zipimport

import pytest

from pandasschema_spark import Column, Schema
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
