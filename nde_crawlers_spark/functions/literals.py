"""Python lookups as Catalyst literals, built from ONE parsed SQL string.

A literal built element by element (``F.lit`` / ``F.struct`` /
``F.create_map``) costs one py4j round-trip per element: a 200-key map
of lineage arrays took ~9 s of driver time. Rendered as SQL text, the
same literal is one ``F.expr`` parse, and Catalyst folds it to a
constant, so a lookup into it needs no join, exchange or job."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _sql_literal(value, dtype: T.DataType) -> str:
    """``value`` as SQL text of type ``dtype``: a str or int for an
    atom, a sequence for an array, a sequence in field order for a
    struct, a dict for a map; ``None`` is a typed NULL."""
    if value is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, T.StringType):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(dtype, T.IntegralType):
        return f"CAST({int(value)} AS {dtype.simpleString()})"
    if isinstance(dtype, T.StructType):
        fields = ", ".join(
            f"'{f.name}', {_sql_literal(v, f.dataType)}" for f, v in zip(dtype.fields, value)
        )
        return f"named_struct({fields})"
    if isinstance(dtype, T.ArrayType):
        items = ", ".join(_sql_literal(v, dtype.elementType) for v in value)
        return f"CAST(array({items}) AS {dtype.simpleString()})"
    if isinstance(dtype, T.MapType):
        items = ", ".join(
            f"{_sql_literal(k, dtype.keyType)}, {_sql_literal(v, dtype.valueType)}"
            for k, v in value.items()
        )
        return f"CAST(map({items}) AS {dtype.simpleString()})"
    raise TypeError(f"no SQL literal for {dtype.simpleString()}")


def literal(value, ddl: str) -> Column:
    """``value`` as a literal Column of the DDL type ``ddl``."""
    return F.expr(_sql_literal(value, T.DataType.fromDDL(ddl)))
