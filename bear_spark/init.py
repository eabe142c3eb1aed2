"""Bootstrap entry point — stand up a working table in one command.

The reference's ``init`` walks an interactive checklist: configure,
start backend, create/wipe the database from the model spec, test-crawl,
ingest (reference: bear/init.py:109-133). The engine's equivalent is
non-interactive (flags instead of prompts — this tool must run under
spark-submit and CI):

    python -m bear_spark.init --root /data/transcripts --wipe \
        --demo-events 20000

creates (or wipes and recreates) the transcript lake table from the
declared schema, and with ``--demo-events`` runs the full pipeline once:
synthetic changelog → streaming CDC apply → lineage summary, so a fresh
checkout proves itself end-to-end in one shot.
"""

from __future__ import annotations

import argparse
import json
import os
import re
from typing import Callable

from bear_spark.config import Settings, get_spark_from_settings


def bootstrap(
    spark,
    root: str,
    settings: Settings | None = None,
    wipe: bool = False,
    demo_events: int = 0,
):
    """Create the transcript table (DDL from the declared schema —
    reference analog: db_init(wipe=...), bear/init.py:115-117); with
    ``demo_events`` also run changelog → apply and return the applier
    metrics."""
    from bear_spark.events import change_events
    from bear_spark.lake import LakeTable
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA
    from bear_spark.sources.changelog import write_changelog
    from bear_spark.streaming import CDCApplier

    s = settings or Settings.load()
    table = LakeTable.create(
        spark,
        os.path.join(root, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS,
        num_buckets=s.num_buckets,
        lateness_sec=s.lateness_sec,
        drop_late=s.drop_late,
        overwrite=wipe,
    )
    metrics: list[dict] = []
    if demo_events:
        ev = change_events(spark, demo_events, seed=7)
        write_changelog(ev, os.path.join(root, "changelog"), n_chunks=8)
        app = CDCApplier(
            spark,
            table,
            os.path.join(root, "changelog"),
            os.path.join(root, "checkpoint"),
            os.path.join(root, "metrics"),
            max_files_per_trigger=s.max_files_per_trigger,
            compact_every=s.compact_every,
            split_rows_per_bucket=s.split_rows_per_bucket,
            split_step_buckets=s.split_step_buckets,
        )
        metrics = app.run_available()
    return table, metrics


# Defaults written by quick_setup, grouped like the reference's
# use_default_*_settings blocks (bear/init.py:46-70): store knobs first
# (lake bucketing and lateness replace the Milvus endpoint), then
# embedding.
_QUICK_DEFAULTS = (
    ("BEAR_NUM_BUCKETS", "64"),
    ("BEAR_LATENESS_SEC", "3600"),
    ("BEAR_EMBEDDING_DIM", "8"),
    ("BEAR_EMBEDDING_DOC_PREFIX", ""),
    ("BEAR_EMBEDDING_QUERY_PREFIX", ""),
)


def quick_setup(
    env_file: str = ".env",
    ask: Callable[[str, str], str] = None,
    echo: Callable[[str], None] = print,
) -> bool:
    """Interactive checklist that writes a starter ``.env`` — parity with
    the reference's prompt-driven ``quick_setup`` (bear/init.py:72-106):
    confirm, never overwrite an existing env file, write sane defaults
    for the store + embedding blocks, then prompt only for the
    essentials. ``ask(prompt, default) -> str`` is injectable so CI and
    tests drive it without a TTY (same pattern as the live-source
    fetcher and the http-embedder transport). Returns True if the file
    was written."""
    if ask is None:  # pragma: no cover - real TTY path
        def ask(prompt: str, default: str) -> str:
            got = input(f"{prompt} [{default}]: ").strip()
            return got or default

    confirm = ask("Quick setup for demo purpose? (yes/no)", "yes").strip().lower()
    if confirm not in ("y", "yes"):
        echo("Skipping quick setup; edit the env file manually.")
        return False
    if os.path.exists(env_file):
        # reference behavior: refuse to clobber (bear/init.py:85-89)
        echo(f"Existing environment file {env_file}; not overwriting — "
             "delete it manually to recreate.")
        return False

    root = ask("Table root directory", os.path.join(os.getcwd(), "bear_data"))
    cores = ask("Spark cores (a count like 8, or *; empty = auto)", "")
    # Settings.cores is a core COUNT ('8' or '*'), not a master URL —
    # get_spark builds f"local[{cores}]" itself. Unwrap the master-URL
    # spelling users habitually type so the session can actually boot.
    m = re.fullmatch(r"local\[(.+)\]", cores.strip())
    if m:
        cores = m.group(1)
    provider = ask("Embedding provider (deterministic/http)", "deterministic")

    lines = [f"{k}={v}\n" for k, v in _QUICK_DEFAULTS]
    lines.append(f"BEAR_EMBEDDING_PROVIDER={provider}\n")
    if cores:
        lines.append(f"BEAR_CORES={cores}\n")
    lines.append(f"BEAR_ROOT={root}\n")
    with open(env_file, "w") as f:
        f.writelines(lines)
    echo(f"System is configured in {env_file}")
    return True


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--root", default=None,
                   help="table root directory (default: BEAR_ROOT from env)")
    p.add_argument("--wipe", action="store_true", help="drop and recreate")
    p.add_argument("--demo-events", type=int, default=0,
                   help="run a demo ingest of N synthetic change events")
    p.add_argument("--env-file", default=".env")
    p.add_argument("--quick-setup", action="store_true",
                   help="interactive checklist that writes a starter .env "
                        "(reference: bear/init.py quick_setup)")
    args = p.parse_args(argv)

    if args.quick_setup:
        quick_setup(env_file=args.env_file)

    s = Settings.load(env_file=args.env_file)
    root = args.root or s.root
    if not root:
        p.error("--root is required (or set BEAR_ROOT, e.g. via --quick-setup)")
    spark = get_spark_from_settings(s, app_name="bear_spark_init")
    table, metrics = bootstrap(
        spark, root, settings=s, wipe=args.wipe, demo_events=args.demo_events
    )
    summary = {
        "root": root,
        "version": table.snapshot["version"],
        "rows": table.read().count(),
        "batches": len(metrics),
        "rows_in": sum(m.get("rows_in", 0) for m in metrics),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
