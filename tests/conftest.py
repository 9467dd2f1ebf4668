from __future__ import annotations

import hashlib
from collections import defaultdict, namedtuple

import pytest

from ecommerce_data_pipeline_spark.session import get_spark
from ecommerce_data_pipeline_spark.sources.readers import load_table

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


def md5_60(text: str) -> int:
    """The portable 60-bit hash behind the plans' salted draws: the
    first 15 hex digits of md5(text)."""
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


# Replay inputs shared by the Python replays at SF_SMOKE. Each is
# collected once per session; tests read them and never mutate them.

OrderCents = namedtuple("OrderCents", "o_orderkey o_custkey o_orderdate cents")


@pytest.fixture(scope="session")
def order_cents(spark) -> list[OrderCents]:
    """Every order with its ``o_totalprice`` in integer cents.
    ``int(round(p * 100))`` equals the plans' ``decimal(18,2) × 100``
    cents for every ``o_totalprice`` at all three fixture sizes."""
    return [
        OrderCents(
            r.o_orderkey,
            r.o_custkey,
            r.o_orderdate,
            int(round(r.o_totalprice * 100)),
        )
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    ]


@pytest.fixture(scope="session")
def daily_cents(order_cents) -> dict:
    """Order cents summed per order day (``datetime.date`` -> int)."""
    days = defaultdict(int)
    for r in order_cents:
        days[r.o_orderdate.date()] += r.cents
    return dict(days)


@pytest.fixture(scope="session")
def segment_of(spark) -> dict:
    """``c_custkey`` -> ``c_mktsegment`` for every customer."""
    return {
        r.c_custkey: r.c_mktsegment
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_mktsegment")
        .collect()
    }


@pytest.fixture(scope="session")
def custkeys(segment_of) -> list[int]:
    """Every customer key."""
    return list(segment_of)
