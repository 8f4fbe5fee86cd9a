"""Column-expression builders for MatrixOne's function surface."""

from pyspark.sql import Column
from pyspark.sql import functions as F


def col_of(x) -> Column:
    """A column name becomes ``F.col(name)``; anything else passes through."""
    return F.col(x) if isinstance(x, str) else x


def arrow_udf(kernel, return_type):
    """An Arrow-batched pandas UDF calling ``kernel(*cells)`` once per row.

    Variadic: one UDF answers calls with any number of argument columns, so
    a kernel's own defaults fill omitted trailing arguments. NaN cells
    reach the kernel as None; the kernel's return value (None is SQL NULL)
    is coerced to ``return_type`` by Arrow."""
    import pandas as pd

    def run(*cols: pd.Series) -> pd.Series:
        return pd.Series(
            [kernel(*(None if isinstance(v, float) and v != v else v for v in row))
             for row in zip(*cols)],
            dtype=object,
        )

    return F.pandas_udf(return_type)(run)
