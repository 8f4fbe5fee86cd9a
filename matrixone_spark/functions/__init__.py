"""Column-expression builders for MatrixOne's function surface."""

from pyspark.sql import Column
from pyspark.sql import functions as F


def col_of(x) -> Column:
    """A column name becomes ``F.col(name)``; anything else passes through."""
    return F.col(x) if isinstance(x, str) else x
