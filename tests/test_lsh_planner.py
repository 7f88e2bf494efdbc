"""operators/lsh_planner.py — the S-curve math and the (bands, rows)
planner must match the textbook model exactly and produce deterministic,
threshold-faithful plans. Pure driver math: no Spark session needed."""

from __future__ import annotations

import pytest

from polkadot_etl_spark.operators.lsh_planner import (
    collision_probability,
    curve_threshold,
    false_rates,
    plan_bands,
)


def test_collision_probability_matches_closed_form():
    # spot values against the independent closed form
    assert collision_probability(0.0, 4, 2) == 0.0
    assert collision_probability(1.0, 4, 2) == 1.0
    s, b, r = 0.5, 8, 4
    assert collision_probability(s, b, r) == pytest.approx(
        1 - (1 - s ** r) ** b, abs=0
    )


def test_scurve_is_monotone_and_sharper_with_rows():
    probs = [collision_probability(i / 20, 6, 3) for i in range(21)]
    assert all(a <= b for a, b in zip(probs, probs[1:]))
    # more rows per band -> flatter below threshold (fewer FPs)
    lo_r1 = collision_probability(0.2, 4, 1)
    lo_r4 = collision_probability(0.2, 16, 4)  # similar t*, sharper curve
    assert lo_r4 < lo_r1


def test_curve_threshold_inflection_property():
    # P(t*) is in the transition zone for any (b, r) — neither tail
    for b, r in [(4, 1), (16, 4), (20, 5), (32, 8)]:
        t = curve_threshold(b, r)
        assert 0.2 < collision_probability(t, b, r) < 0.8


def test_plan_hits_requested_threshold():
    for threshold, n in [(0.5, 64), (0.8, 128), (0.25, 16)]:
        b, r = plan_bands(threshold, n)
        assert b * r <= n
        assert abs(curve_threshold(b, r) - threshold) < 0.05
    # determinism
    assert plan_bands(0.5, 64) == plan_bands(0.5, 64)


def test_false_rates_tradeoff_direction():
    # at a fixed threshold, a plan whose t* is far BELOW it wastes
    # verifies (high fp); far ABOVE it misses pairs (high fn)
    fp_lo, fn_lo = false_rates(0.7, 32, 2)   # t* ~ 0.18 -> everything collides
    fp_hi, fn_hi = false_rates(0.7, 1, 32)   # t* = 1.0  -> nothing collides
    assert fp_lo > fp_hi
    assert fn_hi > fn_lo


def test_pins_the_fixture_minhash_configuration():
    """The registry's MinHash queries run N_BANDS=4 with one minhash per
    band (operators/minhash.py): under the planner's model that is (b=4, r=1) with
    t* = 0.25 — a recall-leaning configuration (collision prob at
    Jaccard 0.5 is ~0.94, at 0.1 still ~0.34), which is why the pipeline
    pairs it with an exact-Jaccard verify stage and bucket caps."""
    from polkadot_etl_spark.operators.minhash import N_BANDS

    assert N_BANDS == 4
    assert curve_threshold(N_BANDS, 1) == 0.25
    assert collision_probability(0.5, N_BANDS, 1) == pytest.approx(0.9375)
    # and the planner would RECOMMEND this shape for a 0.25 target at
    # the same hash budget
    assert plan_bands(0.25, 4) == (4, 1)


def test_validation():
    with pytest.raises(ValueError):
        collision_probability(1.5, 4, 1)
    with pytest.raises(ValueError):
        curve_threshold(0, 1)
    with pytest.raises(ValueError):
        plan_bands(0.0, 8)
    with pytest.raises(ValueError):
        plan_bands(0.5, 0)
