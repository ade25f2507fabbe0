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

from ._worker import trim_worker_import_caches
from .column import Column
from .errors import PanSchArgumentError, PanSchError, PanSchInvalidSchemaError
from .schema import Schema, ValidationResult
from .validation_warning import ValidationWarning

__version__ = "0.1.0"


trim_worker_import_caches()

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
