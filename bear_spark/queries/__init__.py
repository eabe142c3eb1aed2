"""Query registry: every operator exposed to the driver contract.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB oracle SQL string (or ``None`` for genuinely
non-SQL-expressible ops, which get a weaker rows-only check). Column
names/aliases are kept identical on both sides because the driver's
compare sorts columns by name before value-hashing.

Float discipline: double aggregates are rounded on BOTH sides (sums of
2-decimal inputs to 2 decimals — grid points, not midpoints, so the
rounding is stable across engines; ratios/avgs to 4).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

logger = logging.getLogger(__name__)

REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# value: SQL string, or a zero-arg callable returning one (lazy oracles
# whose literals derive from the corpus — e.g. IVF centroids — build at
# oracle_sql() time, not import time)
ORACLES: dict[str, str | Callable[[], str]] = {}


def oracle_sf_dir() -> str:
    """The corpus dir lazy oracles derive literals from. MUST match the
    dir the harness runs both sides against: the external driver checks
    at sf0.01 (the default); ``tools/check_correctness.py --sf`` exports
    this env var so a non-default run keeps oracle and query coherent."""
    return os.environ.get("BEAR_SPARK_ORACLE_SF", "/root/testdata/sf0.01")


def query(name: str, oracle: str | Callable[[], str] | None = None):
    def deco(fn):
        REGISTRY[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def resolve_oracles() -> dict[str, str]:
    """ORACLES with lazy entries resolved. A lazy oracle that fails to
    build (e.g. its corpus file is absent) is dropped — the driver then
    records the weaker rows-only check instead of erroring the run."""
    out: dict[str, str] = {}
    for name, sql in ORACLES.items():
        if callable(sql):
            try:
                out[name] = sql()
            except Exception:
                # visible degradation: a broken builder (typo, bad SQL
                # generation) must not silently become a rows-only check
                logger.warning(
                    "lazy oracle for %r failed to build; falling back to "
                    "rows-only check", name, exc_info=True,
                )
                continue
        else:
            out[name] = sql
    return out


# (real path, size, st_mtime_ns) -> the file's schema as Spark infers it
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table with a declared schema.

    Spark's parquet schema inference starts a job even for one file, so
    every undeclared read pays one job per table before the query runs.
    The schema is inferred once per file identity and read from the memo
    after that; a rewritten file has a new size or mtime, so it is
    inferred again. A path the local file system cannot stat (a remote
    URI) is read with inference on every call."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (os.path.realpath(path), st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


# importing the topic modules populates the registry
from bear_spark.queries import cdc, relational, similarity, textops, windows  # noqa: E402,F401

__all__ = ["REGISTRY", "ORACLES", "query", "t"]
