"""Schemas for the transcript CDC pipeline.

The input table shape follows the north rule's ``input_hint``:
``(conv_id:string, turn_idx:int32, role:string, text:string,
tool:string, ts:timestamp)`` plus the CDC envelope
``(op, lsn, source_partition, offset)``.

The reference declares its store schema declaratively on pydantic models
(reference: bear/model.py:78-147) and turns it into DDL by iterating
``model_fields`` (reference: bear/db.py:35-47). Here the declaration is a
plain ``StructType`` and the registry lives in the lake-table snapshot
metadata (see ``bear_spark.lake.table``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- payload: one conversation turn ---------------------------------------
TRANSCRIPT_FIELDS = [
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
]
TRANSCRIPT_SCHEMA = T.StructType(TRANSCRIPT_FIELDS)

# --- CDC envelope: what the WAL/binlog tail emits --------------------------
# op: 'I' insert, 'U' update, 'D' delete. lsn is a globally unique,
# monotonically increasing log sequence number; (ts, lsn) is the total
# order used for last-writer-wins. (source_partition, offset) identify the
# event's position in its changelog shard — the exactly-once fencing key.
CHANGE_EVENT_SCHEMA = T.StructType(
    TRANSCRIPT_FIELDS
    + [
        T.StructField("op", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("source_partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
    ]
)

# columns that are envelope, not payload
ENVELOPE_COLS = ["op", "lsn", "source_partition", "offset"]

# primary key and LWW ordering for the transcript table
KEY_COLS = ["conv_id", "turn_idx"]
SEQ_COLS = ["ts", "lsn"]


def schema_to_json(schema: T.StructType) -> dict:
    return schema.jsonValue()


def schema_from_json(obj: dict) -> T.StructType:
    return T.StructType.fromJson(obj)


def sql_ident(name: str) -> str:
    """A column name as a SQL identifier, backquoted. Only identifiers and
    the engine's own numbers are written into SQL text; caller values go
    in as typed literals."""
    return "`" + name.replace("`", "``") + "`"


def col_sql(name: str) -> str:
    """A column name as ``F.col`` reads it, as SQL: dots separate the
    parts of a qualified or nested name, each part quoted. A name that
    already has backquotes is taken as SQL as it stands."""
    if "`" in name:
        return name
    return ".".join(sql_ident(p) for p in name.split("."))


def sql_type(dt: T.DataType) -> str:
    """A Spark type as SQL, struct field names quoted."""
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(f"{sql_ident(f.name)}:{sql_type(f.dataType)}" for f in dt) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{sql_type(dt.keyType)},{sql_type(dt.valueType)}>"
    return dt.simpleString()
