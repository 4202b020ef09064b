"""Grouped-aggregate pandas UDFs (Arrow UDAF surface).

NOTE: deliberately no ``from __future__ import annotations`` — Spark's
pandas_udf infers the GROUPED_AGG eval type from the *live* annotations
(``pd.Series -> scalar``); stringified hints raise UNSUPPORTED_SIGNATURE.
Return types are DataType objects, not DDL strings: parsing a DDL string
needs a live SparkContext, which would make this module unimportable
before a session exists.
"""

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType


@pandas_udf(LongType())
def np_count(v: pd.Series) -> int:
    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the
    # row count rides the same Arrow batch as the order statistics.
    return int(len(v))


@pandas_udf(DoubleType())
def np_median(v: pd.Series) -> float:
    return float(np.median(v.to_numpy()))


@pandas_udf(DoubleType())
def np_p90(v: pd.Series) -> float:
    return float(np.percentile(v.to_numpy(), 90))
