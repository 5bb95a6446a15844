"""locopy_spark — a PySpark-native analytics/ETL engine.

Re-expresses the capability surface of the reference ETL client
(capitalone/locopy: SQL execution, bulk COPY/UNLOAD, stage transport,
dataframe insert, schema inference) with Spark itself as the warehouse,
and adds the analytics + LLM-data-pipeline operators such an engine
serves at 100 TB scale.
"""

import sys

from pyspark import cloudpickle

from locopy_spark.database import Database
from locopy_spark.errors import (
    CompressionError,
    CredentialsError,
    DBError,
    LocopyConcatError,
    LocopyError,
    LocopyIgnoreHeaderError,
    LocopySplitError,
    StageError,
)
from locopy_spark.session import get_spark
from locopy_spark.sources.stage import Stage
from locopy_spark.warehouse import Redshift, Snowflake, Warehouse

# reference export name (locopy/__init__.py exports S3)
S3 = Stage

__all__ = [
    "Database",
    "Warehouse",
    "Redshift",
    "Snowflake",
    "S3",
    "Stage",
    "get_spark",
    "LocopyError",
    "DBError",
    "CredentialsError",
    "CompressionError",
    "LocopySplitError",
    "LocopyConcatError",
    "LocopyIgnoreHeaderError",
    "StageError",
]

__version__ = "0.1.0"

# Python UDF bodies here call module-level helpers (lsh_sign_bits,
# _assign_arrow, ...).  Pickled by reference, they would make every
# Python worker import locopy_spark, which fails wherever the package
# is not on the worker's sys.path (a driver that only put the repository
# on its own sys.path).  By value, the helpers travel with the UDF.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
