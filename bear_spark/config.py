"""Settings layer — one typed config object for every engine knob.

The reference centralizes configuration in a pydantic-settings object
loaded from ``.env`` with env-var override (reference: bear/config.py:
37-106, model_config at :41) plus a derived embedding sub-config
(:98-113). Same surface here, stdlib-only: a frozen dataclass hydrated
from (defaults < .env file < process env), with ``BEAR_``-prefixed
variables, typed coercion, and the derived ``embedding_config`` dict
that feeds ``embedders.get_embedder``.

The store/index knobs differ by design: the reference configures a
Milvus endpoint + HNSW index; this engine's store is the lake table, so
the knobs are bucketing and lateness, and Spark session sizing
replaces connection pooling.

A value no deployment sets is not a setting: the data-file row bound
and compaction floor (``lake/table.py``), the merge retry bound and the
metrics flush cadence (``streaming/apply.py``) are module constants next
to the code that reads them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields
from typing import Any


def _parse_env_file(path: str) -> dict[str, str]:
    """Minimal ``.env`` parser: KEY=VALUE lines, #-comments, optional
    ``export`` prefix, single/double quotes stripped."""
    out: dict[str, str] = {}
    try:
        with open(path) as f:
            lines = f.readlines()
    except FileNotFoundError:
        return out
    for line in lines:
        line = line.strip()
        if not line or line.startswith("#") or "=" not in line:
            continue
        if line.startswith("export "):
            line = line[len("export "):]
        k, _, v = line.partition("=")
        v = v.strip()
        if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
            v = v[1:-1]
        out[k.strip()] = v
    return out


def _coerce(value: str, typ: type) -> Any:
    if typ is bool:
        return value.strip().lower() in ("1", "true", "yes", "on")
    return typ(value)


@dataclass(frozen=True)
class Settings:
    """All knobs, env-overridable as ``BEAR_<FIELD>`` (upper-cased)."""

    # table root (bear_spark/init.py bootstrap; set by quick_setup)
    root: str = ""

    # Spark session sizing (bear_spark/session.py)
    cores: str = ""  # "" -> $SPARK_GRAFT_CPUS or local[*]
    shuffle_partitions: int = 0  # 0 -> 2x cores heuristic
    driver_memory: str = "48g"

    # lake table (bear_spark/lake/table.py)
    num_buckets: int = 64
    lateness_sec: int = 3600
    drop_late: bool = False

    # streaming applier (bear_spark/streaming/apply.py)
    max_files_per_trigger: int = 4
    compact_every: int = 0
    split_rows_per_bucket: int = 0  # 0 = no auto bucket growth
    split_step_buckets: int = 4  # old buckets split per micro-batch

    # embedding (bear_spark/embedders.py; reference bear/config.py:94-113)
    embedding_provider: str = "deterministic"
    embedding_dim: int = 8
    embedding_doc_prefix: str = ""
    embedding_query_prefix: str = ""

    # serving (bear_spark/api.py, reference bear/api/main.py:228-229)
    api_host: str = "127.0.0.1"
    api_port: int = 8000

    @property
    def embedding_config(self) -> dict[str, Any]:
        """Derived provider config (reference: default_embedding_config,
        bear/config.py:98-113) — feed straight to ``get_embedder``."""
        return {
            "provider": self.embedding_provider,
            "dim": self.embedding_dim,
            "doc_prefix": self.embedding_doc_prefix,
            "query_prefix": self.embedding_query_prefix,
        }

    @classmethod
    def load(cls, env_file: str = ".env", env: dict[str, str] | None = None) -> "Settings":
        """defaults < ``env_file`` < process env (pydantic-settings
        precedence, reference: bear/config.py:41)."""
        env = dict(env if env is not None else os.environ)
        layered = {**_parse_env_file(env_file), **env}
        kwargs: dict[str, Any] = {}
        for f in fields(cls):
            key = f"BEAR_{f.name.upper()}"
            if key in layered:
                kwargs[f.name] = _coerce(layered[key], f.type if isinstance(f.type, type) else type(f.default))
        return cls(**kwargs)


def get_spark_from_settings(s: Settings, app_name: str = "bear_spark", **overrides):
    """Session factory wired to the settings object."""
    from bear_spark.session import get_spark

    kwargs: dict[str, Any] = {"app_name": app_name}
    if s.cores:
        kwargs["cores"] = s.cores
    if s.shuffle_partitions:
        kwargs["shuffle_partitions"] = s.shuffle_partitions
    kwargs["driver_memory"] = s.driver_memory
    kwargs.update(overrides)
    return get_spark(**kwargs)
