"""Changelog writer/reader — the durable WAL between source and table.

The reference stages raw API pages as parquet chunk files of ~1000
records under ``works/<author_id>/chunk_N.parquet`` (reference:
bear/crawler.py:164-186, 236) and treats them as the replayable log.
Here the changelog is a directory of parquet chunk files named in log
order (``chunk_<epoch>_<seq>.parquet``); Structured Streaming's file
source tails it with ``maxFilesPerTrigger`` micro-batches, and the
lake table's commit log fences replays by (source_partition, offset).

A raw-text variant (`write_raw` / `parse_raw`) carries each event as a
JSON line, parsed JVM-side by ``from_json`` with an explicit schema — no
Python anywhere (reference analog: the per-row ``Work.from_raw`` loop at
bear/ingest.py:19, inverted to columnar).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark.schema import CHANGE_EVENT_SCHEMA


def write_changelog(events: DataFrame, path: str, n_chunks: int, order_col: str = "lsn") -> list[str]:
    """Spill an event DataFrame into ``n_chunks`` ordered parquet chunk
    files (range-partitioned by the log order column so each chunk is a
    contiguous log segment, like the reference's spill-every-1000)."""
    (
        events.repartitionByRange(n_chunks, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def read_changelog_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 4,
    schema: T.StructType = CHANGE_EVENT_SCHEMA,
) -> DataFrame:
    """Tail the changelog directory as a Structured Streaming source.

    ``_src_file`` (from the hidden ``_metadata`` column) tags each row
    with its chunk file — the contiguous offset segment the lake table's
    commit log fences on."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
        .withColumn("_src_file", F.col("_metadata.file_path"))
    )


# ---------------------------------------------------------- raw JSON path
RAW_SCHEMA = T.StructType([T.StructField("raw", T.StringType(), False)])


def write_raw(events: DataFrame, path: str) -> None:
    """Serialize events to JSON-line text chunks (the 'raw API page'
    shape of the reference's staging files)."""
    events.select(F.to_json(F.struct(*events.columns)).alias("raw")).write.mode(
        "overwrite"
    ).parquet(path)


def parse_raw(df: DataFrame, schema: T.StructType = CHANGE_EVENT_SCHEMA) -> DataFrame:
    """Raw→typed parse, JVM-side: ``from_json`` with an explicit schema
    (codegen'd; the default hot path — no Python anywhere).

    Reference analog: the per-row ``Work.from_raw`` loop at
    bear/ingest.py:19 / bear/model.py:173-202, inverted to columnar.
    """
    return df.select(F.from_json("raw", schema).alias("r")).select("r.*")
