from __future__ import annotations

import pytest

from ecommerce_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "engine-tests",
        cpus=8,
        shuffle_partitions=8,
        # static conf: the bucketed-table tests need a writable warehouse
        extra_conf={"spark.sql.warehouse.dir": "/tmp/engine-tests-warehouse"},
    )
    yield s
    try:
        # a leaked streaming query is a teardown error, not a silent pass
        leaked = [q.name or str(q.id) for q in s.streams.active]
        assert s.streams.active == [], f"streaming queries leaked: {leaked}"
    finally:
        s.stop()


@pytest.fixture(autouse=True)
def _clear_cache_after_each_test(request):
    """Plans persist multi-consumer intermediates; drop them once the
    test that built them is done, so they do not outlive it for the rest
    of the session (the same cleanup bench.py does between queries).
    Only a test that requested ``spark`` is cleaned up after — a
    Spark-free test does not start a session for it."""
    spark = (
        request.getfixturevalue("spark")
        if "spark" in request.fixturenames
        else None
    )
    yield
    if spark is not None:
        spark.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
