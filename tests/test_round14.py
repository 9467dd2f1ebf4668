"""Round 14 (optimization round 2) — focused pins for the round's
operator-internal changes: the generalized-ESD driver fold's parity
with its unrolled relational form. The streaming worker-handshake retry
tests live in test_streaming.py.
"""

from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# generalized_esd_outlier_test driver-fold parity (VERDICT r13 item 4):
# the r14 rewrite moves the five trim-round SELECTIONS (pure integer
# argmax) to a driver fold; every published float must stay
# BIT-IDENTICAL to the retained unrolled relational form — the pq_encode
# parity-pin precedent.


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_MID])
def test_generalized_esd_driver_fold_matches_unrolled(spark, sf_dir):
    from ecommerce_data_pipeline_spark.plans import REGISTRY
    from ecommerce_data_pipeline_spark.plans.analytics_series import (
        _generalized_esd_unrolled,
    )

    got = REGISTRY["generalized_esd_outlier_test"].fn(spark, sf_dir)
    ref = _generalized_esd_unrolled(spark, sf_dir)
    assert got.columns == ref.columns

    def canon(df):
        return sorted(
            tuple(repr(v) for v in row) for row in df.collect()
        )

    assert canon(got) == canon(ref)
