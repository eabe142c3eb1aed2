from __future__ import annotations

import pytest

from bear_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="bear_spark_tests",
        cores=8,
        shuffle_partitions=8,
        driver_memory="8g",
    )
    yield s


@pytest.fixture(params=["driver", "job"])
def placement(request, monkeypatch):
    """Where ``LakeTable`` runs its kernels (merge, maintenance and the
    change feed's diff): on the driver (every input with a size counts
    as small) or in the ``applyInArrow`` job (none does). The test's
    kernels must have taken the forced placement."""
    from bear_spark.lake import arrow_apply, table

    limit = 1 << 62 if request.param == "driver" else -1
    monkeypatch.setattr(table, "DRIVER_APPLY_MAX_BYTES", limit)
    calls = []
    on_driver = arrow_apply.apply_on_driver

    def spy(batch, kernel):
        calls.append(batch.num_rows)
        return on_driver(batch, kernel)

    monkeypatch.setattr(arrow_apply, "apply_on_driver", spy)
    yield request.param
    assert bool(calls) == (request.param == "driver"), calls
