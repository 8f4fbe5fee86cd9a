"""Column-expression builders for MatrixOne's function surface."""

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F


def col_of(x) -> Column:
    """A column name becomes ``F.col(name)``; anything else passes through."""
    return F.col(x) if isinstance(x, str) else x


def _strict(kernel):
    """``kernel`` with MySQL's strict NULL rule: any NULL argument gives
    NULL without calling it."""
    @functools.wraps(kernel)
    def row(*args):
        return None if any(a is None for a in args) else kernel(*args)

    return row


def arrow_udf(kernel, return_type):
    """An Arrow-batched pandas UDF calling ``kernel(*cells)`` once per row.

    Variadic: one UDF answers calls with any number of argument columns, so
    a kernel's own defaults fill omitted trailing arguments. NaN cells
    reach the kernel as None; the kernel's return value (None is SQL NULL)
    is coerced to ``return_type`` by Arrow. Plans show the UDF under the
    kernel's name."""
    import pandas as pd

    def run(*cols: pd.Series) -> pd.Series:
        return pd.Series(
            [kernel(*(None if isinstance(v, float) and v != v else v for v in row))
             for row in zip(*cols)],
            dtype=object,
        )

    run.__name__ = kernel.__name__
    return F.pandas_udf(return_type)(run)
