"""Settings layer precedence and the bootstrap entry point."""

from __future__ import annotations

from bear_spark import oracle
from bear_spark.config import Settings
from bear_spark.events import change_events
from bear_spark.init import bootstrap


def test_settings_defaults_and_env_precedence(tmp_path):
    s = Settings.load(env_file=str(tmp_path / "missing.env"), env={})
    assert s.num_buckets == 64 and not s.drop_late

    envf = tmp_path / ".env"
    envf.write_text(
        "# comment\n"
        "export BEAR_NUM_BUCKETS=16\n"
        "BEAR_DROP_LATE=true\n"
        'BEAR_EMBEDDING_QUERY_PREFIX="query: "\n'
    )
    s = Settings.load(env_file=str(envf), env={})
    assert s.num_buckets == 16 and s.drop_late is True
    assert s.embedding_query_prefix == "query: "

    # process env beats the .env file (pydantic-settings precedence)
    s = Settings.load(env_file=str(envf), env={"BEAR_NUM_BUCKETS": "8"})
    assert s.num_buckets == 8 and s.drop_late is True

    # auto-growth knobs coerce like every other int field
    s = Settings.load(
        env_file=str(envf),
        env={"BEAR_SPLIT_ROWS_PER_BUCKET": "5000000", "BEAR_SPLIT_STEP_BUCKETS": "8"},
    )
    assert s.split_rows_per_bucket == 5_000_000 and s.split_step_buckets == 8

    cfg = s.embedding_config
    assert cfg["provider"] == "deterministic" and cfg["query_prefix"] == "query: "


def test_quick_setup_checklist(tmp_path):
    """Prompt-driven .env writer (reference quick_setup parity): writes
    defaults + essentials, refuses to clobber, declines cleanly."""
    from bear_spark.init import quick_setup

    envf = tmp_path / ".env"
    answers = iter(["yes", str(tmp_path / "lake"), "local[4]", "http"])
    echoed: list[str] = []
    wrote = quick_setup(
        env_file=str(envf),
        ask=lambda prompt, default: next(answers),
        echo=echoed.append,
    )
    assert wrote and envf.exists()
    s = Settings.load(env_file=str(envf), env={})
    assert s.root == str(tmp_path / "lake")
    # the habitual master-URL spelling is unwrapped to the core COUNT
    # Settings.cores actually means — get_spark builds local[{cores}]
    # itself, so persisting 'local[4]' verbatim would crash the session
    assert s.cores == "4"
    assert s.embedding_provider == "http"
    assert s.num_buckets == 64  # defaults block

    # never overwrites an existing env file (bear/init.py:85-89)
    before = envf.read_text()
    wrote = quick_setup(
        env_file=str(envf),
        ask=lambda prompt, default: "yes",
        echo=echoed.append,
    )
    assert not wrote and envf.read_text() == before
    assert any("not overwriting" in m for m in echoed)

    # declining is a no-op
    other = tmp_path / "other.env"
    wrote = quick_setup(
        env_file=str(other),
        ask=lambda prompt, default: "no",
        echo=echoed.append,
    )
    assert not wrote and not other.exists()


def test_bootstrap_demo_pipeline(spark, tmp_path):
    s = Settings.load(env=dict(BEAR_NUM_BUCKETS="4", BEAR_MAX_FILES_PER_TRIGGER="3"))
    table, metrics = bootstrap(
        spark, str(tmp_path / "boot"), settings=s, demo_events=4000
    )
    assert metrics and sum(m["rows_in"] for m in metrics) == 4000
    expected = oracle.replay(change_events(spark, 4000, seed=7).toPandas())
    oracle.assert_states_equal(table.read().toPandas(), expected)
    # --wipe recreates from scratch; without it a second bootstrap refuses
    import pytest

    with pytest.raises(FileExistsError):
        bootstrap(spark, str(tmp_path / "boot"), settings=s)
    table2, _ = bootstrap(spark, str(tmp_path / "boot"), settings=s, wipe=True)
    assert table2.read().count() == 0
