"""Fast two-SF oracle spot check for queries under development.

Usage: python tools/oracle_spot_check.py <query> [<query> ...]
Runs each named registry query AND its DuckDB oracle at sf0.001 and
sf0.01 on the engine's session (``session.get_spark``, so its host-aware
heap applies) and value-diffs them via the pytest harness — seconds per
query, the inner loop while a new operator is being built (the full
oracle sweep, ``tests/test_oracle.py``, stays the gate).
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ecommerce_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from ecommerce_data_pipeline_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_CORRECT, SF_SMOKE  # noqa: E402
from tests.oracle_harness import (  # noqa: E402
    assert_oracle_types_safe,
    compare,
    duckdb_connection,
)

spark = get_spark("oracle-spot-check")
names = sys.argv[1:] or ["attribution_shapley_values"]
for sf in [SF_SMOKE, SF_CORRECT]:
    con = duckdb_connection(sf)
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        df = q.fn(spark, sf)
        rel = con.sql(q.oracle)
        assert_oracle_types_safe(rel, name)
        compare(df, con, q.oracle)
        print(f"OK {name} @ {sf} ({time.time()-t0:.1f}s)")
spark.stop()
