"""SQL text for large generated expressions.

Every ``pyspark.sql.functions`` call and Column operator is a handful
of py4j round-trips (PySpark 4.1 also records the Python call site of
each), and ``F.lit(list)`` expands into one ``lit`` per element. A
generated tree with hundreds of nodes or literals therefore costs
thousands of round-trips to build. Rendered as SQL text, the same
tree is one ``F.expr`` call that the JVM parses in one round-trip.

The renderings here keep literal types exact: a double is a ``...D``
literal (DOUBLE, never the DECIMAL that a bare ``0.5`` parses as), an
int stays an int.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def double(x: float) -> str:
    """Spark SQL DOUBLE literal with exactly the bits of ``float(x)``.

    ``repr`` gives the shortest decimal text that round-trips, and the
    JVM's correctly rounded parse reads it back to the same bits
    (subnormals and -0.0 included). NaN and the infinities have no
    literal syntax and are cast from their string names."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def double_array(xs: Iterable[float]) -> str:
    """``array<double>`` literal of ``xs``, in order."""
    return "array(" + ", ".join(double(x) for x in xs) + ")"


def double_array_col(xs: Iterable[float]) -> Column:
    """:func:`double_array` as a Column: one py4j call however long
    ``xs`` is, where ``F.array(*[F.lit(x) ...])`` makes several per
    element."""
    return F.expr(double_array(xs))


def string(s: str) -> str:
    """Spark SQL STRING literal of ``s`` (the parser's default
    backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """A top-level column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
