"""tools/scale_step.py: every op at ×1 and ×2 on sf0.001 keeps its
invariants, and the ×K replicas are rebuilt for each input, never reused
from an earlier step with the same K."""

import os
import sys

import pytest

from test_functions import SF

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import scale_step  # noqa: E402

SF01 = os.path.join(os.path.dirname(SF), "sf0.01")


@pytest.mark.parametrize("op", sorted(scale_step.OPS))
def test_op_keeps_its_invariants_at_x2(spark, op):
    rec = scale_step.step(spark, op, SF, 2, attempts=1)
    assert rec["invariants"] and rec["ok"], rec


def test_replicas_are_rebuilt_for_each_input(spark):
    """The same op and K on two sf directories in one process: each ×K
    result is exactly K× its own ×1, not the earlier input's replicas."""
    k = 3
    recs = [scale_step.step(spark, "events", sf, k, attempts=1) for sf in (SF, SF01)]
    assert recs[0]["x1"]["events"] != recs[1]["x1"]["events"]
    for rec in recs:
        for field in ("sessions", "events", "cents", "asof_rows", "asof_matched"):
            assert rec["xk"][field] == k * rec["x1"][field], (field, rec)
