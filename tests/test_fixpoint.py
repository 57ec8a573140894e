"""common.fixpoint on a fake state that records when it is staged — the
round, staging and convergence policy without Spark."""

import pytest

from iceberg_rest_catalog_spark.operators.common import fixpoint


class _State:
    """A round counter whose localCheckpoint() logs the round it stages."""

    def __init__(self, value, staged):
        self.value, self.staged = value, staged

    def localCheckpoint(self):
        self.staged.append(self.value)
        return self


def _counter(cap=None):
    def step(s):
        v = s.value + 1
        return _State(v if cap is None else min(v, cap), s.staged)

    return step


@pytest.mark.parametrize(
    "rounds, stage_every, staged",
    [(10, 5, [5, 10]), (6, 4, [4, 6]), (3, 1, [1, 2, 3]), (4, 9, [4])],
)
def test_fixed_rounds_stage_every_kth_round_and_the_last(rounds, stage_every, staged):
    got = fixpoint(_counter(), _State(0, []), rounds, stage_every=stage_every)
    assert got.value == rounds
    assert got.staged == staged


def test_signature_stops_on_first_repeat_and_stages_every_round():
    got = fixpoint(_counter(cap=3), _State(0, []), 10, signature=lambda s: s.value)
    assert got.value == 3
    assert got.staged == [1, 2, 3, 3]  # round 4 repeats round 3's signature


def test_confirm_runs_only_on_matching_signatures_and_a_refusal_keeps_going():
    calls = []

    def confirm(prev, cur):
        calls.append((prev.value, cur.value))
        return prev.value == cur.value

    got = fixpoint(
        _counter(cap=5), _State(0, []), 10,
        signature=lambda s: s.value // 2, confirm=confirm,
    )
    # signatures 0,0 | 1,1 | 2,2,2 over values 0..5,5: confirm sees only
    # the matching pairs and refuses every one until the value repeats
    assert calls == [(0, 1), (2, 3), (4, 5), (5, 5)]
    assert got.value == 5 and got.staged == [1, 2, 3, 4, 5, 5]


def test_no_fixpoint_within_rounds_raises():
    staged = []
    with pytest.raises(RuntimeError, match="within 4 rounds"):
        fixpoint(_counter(), _State(0, staged), 4, signature=lambda s: s.value)
    assert staged == [1, 2, 3, 4]
