"""Missing-value canonicalization: the one load-bearing semantic rule.

The reference treats ``null``, empty ``Nullable<_>``, ``Double.NaN`` and
``Single.NaN`` all as *missing* (reference ``isNA``,
src/Common/Common.fs:264-276) and canonicalizes NaN produced by mapping
functions back to missing (src/Vectors/ArrayVector.fs:57-67, 213-223).
±Infinity is NOT missing (tests/FSharp.DataFrame.Tests/Common.fs:18-28).

Spark distinguishes NULL from NaN (NaN groups/joins as equal to itself),
so this module normalizes ``NaN → NULL`` on every float/double column at
construction boundaries and after user-function application.  Once
normalized, Spark aggregates/joins skip NULL exactly like the
reference's optional-skipping folds (src/Common/Common.fs:331-361).

All transformations here are Column expressions — whole-stage codegen
applies; there is no row-at-a-time cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FLOATING = (T.DoubleType, T.FloatType)


def nan_to_null(col: Column) -> Column:
    """NaN → NULL for one (float/double) column expression."""
    return F.when(F.isnan(col), F.lit(None)).otherwise(col)


def canonicalize_missing(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """NaN → NULL across all floating-point columns of *df*.

    Non-floating columns are untouched (NaN does not exist there).  This
    is applied by Series/Frame constructors and after every Pandas-UDF
    boundary so engine-internal data never contains NaN.
    """
    floating = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, _FLOATING) and (columns is None or f.name in columns)
    ]
    if not floating:
        return df
    return df.withColumns({c: nan_to_null(F.col(c)) for c in floating})

