"""pandasschema_spark — a PySpark-native schema + constraint validation
engine with the semantics of multimeric/PandasSchema (reference at
/root/reference, v0.3.6), built from scratch for Spark's execution model.

Public API mirrors the reference's three-level composition::

    from pandasschema_spark import Column, Schema
    from pandasschema_spark.validation import InRangeValidation, ...

    schema = Schema([Column('age', [InRangeValidation(0, 120)])])
    result = schema.validate(spark_df)          # lazy plan
    result.violations                           # Spark DataFrame
    result.collect_warnings()                   # reference-compatible list
"""

import sys
import zipimport

from .column import Column
from .errors import PanSchArgumentError, PanSchError, PanSchInvalidSchemaError
from .schema import Schema, ValidationResult
from .validation_warning import ValidationWarning

__version__ = "0.1.0"


def _drop_zip_subpackage_finders() -> None:
    """Delete every ``sys.path_importer_cache`` entry whose finder is a
    ``zipimporter`` of a sub-package inside an archive (non-empty
    ``prefix``); the importers of archive roots stay.

    A Python worker calls ``importlib.invalidate_caches()`` at the start
    of every task (pyspark's ``setup_spark_files``). On CPython 3.11 and
    3.12 that re-reads the whole directory of an archive once per
    ``zipimporter`` of it in the cache, and the pyspark daemon forks each
    worker holding one per pyspark sub-package it imported from
    ``pyspark.zip`` (about 16, 1,328 entries each): 0.14-0.28 CPU-s per
    task on a 4-CPU host. The root importer's invalidation still
    refreshes the shared ``zipimport._zip_directory_cache`` once per
    archive, and a sub-package importer that ``PathFinder`` rebuilds
    later reads that fresh cache, so what imports, and from where, does
    not change. A worker imports the package, and runs this once, when
    it unpickles a UDF that references it (the clips suite's checks do)."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            del sys.path_importer_cache[path]


_drop_zip_subpackage_finders()

__all__ = [
    "Column",
    "Schema",
    "ValidationResult",
    "ValidationWarning",
    "PanSchError",
    "PanSchInvalidSchemaError",
    "PanSchArgumentError",
    "__version__",
]
