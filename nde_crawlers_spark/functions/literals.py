"""Python lookups as Catalyst literals, built from ONE parsed SQL string.

A literal built element by element (``F.lit`` / ``F.struct`` /
``F.create_map``) costs one py4j round-trip per element: a 200-key map
of lineage arrays took ~9 s of driver time. Rendered as SQL text, the
same literal is one ``F.expr`` parse, and Catalyst folds it to a
constant, so a lookup into it needs no join, exchange or job.

Rendering rule: the smallest tree that analyses to the DDL type. Atoms
are bare SQL literals typed by suffix (``5``, ``5L``, ``5S``, ``5Y``,
``'x'``), arrays ``array(...)``, maps ``map(...)``, structs
``named_struct(...)``, and ONE ``CAST`` to the DDL type at the top sets
every nullability flag. A cast per element made analysis cost grow with
the literal (each one is a node the analyser resolves and type-checks);
inner casts remain only where an element has no type of its own: a NULL
and an empty array or map."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INT_SUFFIX = {T.LongType: "L", T.IntegerType: "", T.ShortType: "S", T.ByteType: "Y"}


def _sql_literal(value, dtype: T.DataType) -> str:
    """``value`` as SQL text whose type is ``dtype`` up to nullability:
    a str or int for an atom, a sequence for an array, a sequence in
    field order for a struct, a dict for a map; ``None`` is a typed
    NULL."""
    if value is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, T.StringType):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(dtype, T.IntegralType):
        return f"{int(value)}{_INT_SUFFIX[type(dtype)]}"
    if isinstance(dtype, T.StructType):
        fields = ", ".join(
            f"'{f.name}', {_sql_literal(v, f.dataType)}" for f, v in zip(dtype.fields, value)
        )
        return f"named_struct({fields})"
    if isinstance(dtype, T.ArrayType):
        items = ", ".join(_sql_literal(v, dtype.elementType) for v in value)
    elif isinstance(dtype, T.MapType):
        items = ", ".join(
            f"{_sql_literal(k, dtype.keyType)}, {_sql_literal(v, dtype.valueType)}"
            for k, v in value.items()
        )
    else:
        raise TypeError(f"no SQL literal for {dtype.simpleString()}")
    text = f"{dtype.typeName()}({items})"
    return text if items else f"CAST({text} AS {dtype.simpleString()})"


def literal(value, ddl: str) -> Column:
    """``value`` as a literal Column of the DDL type ``ddl``."""
    dtype = T.DataType.fromDDL(ddl)
    return F.expr(f"CAST({_sql_literal(value, dtype)} AS {dtype.simpleString()})")
