"""Schema reconciler — registry-style evolution for the lake table.

The reference's escape hatch for unknown columns is
``enable_dynamic_field=True`` on the store (reference: bear/db.py:22,35):
writes may carry extra fields and the store keeps them schemaless. Here
evolution is explicit and typed, like an Avro schema registry: on batch
arrival the batch schema is diffed against the table schema; new columns
are added (nullable), and numeric types may widen (int→long,
int/long/float→double). Old data files keep their old physical schema —
reads group files by schema version and align each group to the current
schema. Incompatible changes (narrowing, type clashes) raise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from bear_spark.schema import sql_ident, sql_type

# directed widening lattice: src -> allowed wider targets
_WIDEN: dict[str, tuple[str, ...]] = {
    "integer": ("long", "double"),
    "long": ("double",),
    "float": ("double",),
    "short": ("integer", "long", "double"),
    "byte": ("short", "integer", "long", "double"),
    "date": ("timestamp",),
}


def can_widen(src: T.DataType, dst: T.DataType) -> bool:
    return dst.typeName() in _WIDEN.get(src.typeName(), ())


def _erase_nullability(dt: T.DataType) -> T.DataType:
    """Same type modulo containsNull/valueContainsNull/field nullability
    — a batch built with F.array(...) legitimately arrives with
    containsNull=False where the table stores True."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_erase_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _erase_nullability(dt.keyType), _erase_nullability(dt.valueType), True
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _erase_nullability(f.dataType), True) for f in dt.fields]
        )
    return dt


def _widest(a: T.DataType, b: T.DataType) -> T.DataType | None:
    if _erase_nullability(a) == _erase_nullability(b):
        return a
    if can_widen(a, b):
        return b
    if can_widen(b, a):
        return a
    return None


class SchemaConflict(ValueError):
    pass


def evolve(table_schema: T.StructType, batch_schema: T.StructType) -> tuple[T.StructType, list[str]]:
    """Merge a batch schema into the table schema.

    Returns (new_table_schema, human-readable change log). Raises
    :class:`SchemaConflict` on incompatible types. Column order of the
    table is preserved; new columns append in batch order.
    """
    changes: list[str] = []
    table_fields = {f.name: f for f in table_schema.fields}
    out: list[T.StructField] = []
    for f in table_schema.fields:
        if f.name in batch_schema.fieldNames():
            bt = batch_schema[f.name].dataType
            w = _widest(f.dataType, bt)
            if w is None:
                raise SchemaConflict(
                    f"column {f.name}: table {f.dataType.simpleString()} vs "
                    f"batch {bt.simpleString()} — not reconcilable"
                )
            if w != f.dataType:
                changes.append(f"widen {f.name}: {f.dataType.simpleString()} -> {w.simpleString()}")
            out.append(T.StructField(f.name, w, True if w != f.dataType else f.nullable))
        else:
            out.append(f)
    for f in batch_schema.fields:
        if f.name not in table_fields:
            changes.append(f"add column {f.name}: {f.dataType.simpleString()}")
            out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out), changes


def align(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project/cast ``df`` onto ``target`` (JVM-side; missing cols → null).

    One ``selectExpr`` over SQL text rather than a ``Column`` per field
    (every ``Column`` call is a py4j round trip); a frame whose schema
    already is ``target`` comes back unchanged."""
    if df.schema == target:
        return df
    have = set(df.columns)
    return df.selectExpr(
        *[
            f"CAST({sql_ident(f.name) if f.name in have else 'NULL'} AS "
            f"{sql_type(f.dataType)}) AS {sql_ident(f.name)}"
            for f in target.fields
        ]
    )
