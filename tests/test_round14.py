"""Round 14 (optimization round 2) — focused pins for the round's
operator-internal changes: the generalized-ESD driver fold's parity
with its unrolled relational form, and the grading-slate emission. The
streaming worker-handshake retry tests live in test_streaming.py.
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


# ---------------------------------------------------------------------------
# Grading-slate emission pin (supersedes test_round13's --through 12
# pin, the established per-round pattern): GRADE_PRIORITY must be
# byte-identical to the staleness tool's emission — slate construction
# is a pure function of (registry, CORRECTNESS_r1..r13, pins), never
# hand order.

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_R14_SLATE_PINS = [
    # the 17 oracle-backed query paths optimization round 2 touched
    "streaming_flagship_certificate",
    "rendezvous_hashing_audit",
    "generalized_esd_outlier_test",
    "attribution_shapley_values",
    "link_prediction_resource_allocation",
    "qini_uplift_curve",
    "robust_regression_huber_irls",
    "als_implicit_step_certificate",
    "page_trend_yearly_revenue",
    "kendalls_w_concordance",
    "quade_weighted_friedman",
    "kcore_peel_certificate",
    "graph_core_decomposition_full",
    "label_propagation_communities",
    "modularity_lpa_communities",
    "hits_hub_authority",
    "dsir_importance_weights",
]


def test_slate_is_tool_emitted():
    """--through 13 caps the fold so this stays reproducible after the
    r14 driver artifacts land."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import grade_staleness

    from ecommerce_data_pipeline_spark.plans.registry import GRADE_PRIORITY

    emitted = grade_staleness.build_slate(_R14_SLATE_PINS, through=13)
    assert tuple(emitted) == GRADE_PRIORITY


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
