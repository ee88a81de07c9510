"""r6 envelope regression tests.

The first full-registry sweep at sf0.1 (OPTIMIZATION_r06.md) found the
rel_abtest bigint z-test products overflowing their documented 2^63
envelope at ~2.5e4 events/key. The fix runs the products in
decimal(38,0); this test pins (a) that the query computes at a scale
where the old algebra threw ARITHMETIC_OVERFLOW, and (b) that every
emitted z2_e6/significant equals an exact big-int recomputation from
the query's own counts (Python ints are arbitrary-precision, so the
recomputation is the envelope-free reference).
"""

from __future__ import annotations

import math
import os

import pytest

SF01 = "/root/testdata/sf0.1"


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.1 testdata absent")
def test_rel_abtest_exact_past_int64_envelope(spark):
    from denrl_spark.plans.driver_queries import QUERIES

    rows = QUERIES["rel_abtest"](spark, SF01).collect()
    assert rows, "rel_abtest produced no groups at sf0.1"
    checked_overflowing = 0
    for r in rows:
        n1, x1, n2, x2 = int(r.n1), int(r.x1), int(r.n2), int(r.x2)
        dev = x1 * n2 - x2 * n1
        n = n1 + n2
        x = x1 + x2
        num = dev * dev * n
        den = n1 * n2 * x * (n - x)
        if num * 1_000_000 > 2**63:
            checked_overflowing += 1  # the regime the r5 algebra lost
        # one double division of the exact operands, scale folded in
        # before the conversion — the oracle's left-associative shape
        expect_z2 = math.floor(float(num * 1_000_000) / float(den))
        assert int(r.z2_e6) == expect_z2, r
        assert int(r.significant) == int(num > 9 * den), r
    assert checked_overflowing > 0, (
        "fixture no longer exercises the >2^63 regime; move the test to "
        "a bigger corpus"
    )

