"""Gate-rotation pinning.

The driver certifies only the first 50 names of ``queries()`` per round,
so the committed ``_GATE_PRIORITY`` must rotate staleness-first.
These tests pin it to the generator in ``scripts/gen_gate_priority.py``,
so a hand edit (or a forgotten rotation) fails in CI, and they pin the
rule's staleness bound B = ceil(N / WINDOW).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "scripts"))

from gen_gate_priority import (  # noqa: E402
    WINDOW,
    certified_rounds,
    generate,
    staleness_bound,
    window_is_current,
)

from swiftlake_spark.queries import _GATE_PRIORITY, REGISTRY, _load_all  # noqa: E402


@pytest.fixture(scope="module")
def state():
    _load_all()
    return list(REGISTRY), certified_rounds()


def test_committed_window_matches_generator(state):
    """The first WINDOW committed names are the generated window, with at
    most one generation of lag (the check ``--check`` also runs)."""
    names, _ = state
    assert window_is_current(_GATE_PRIORITY, names), (
        "committed _GATE_PRIORITY window diverged from "
        "scripts/gen_gate_priority.py by more than one round of lag — "
        "regenerate and commit"
    )


def test_window_check_rejects_forgotten_rotation(tmp_path):
    """The shared check accepts the window generated from the newest
    union and the one generated a round earlier, and rejects a window
    two generations stale (a forgotten rotation, like r14 == r15)."""
    names = ["qa", "qb", "qc", "qd"]
    rec = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    for rnd, green in ((1, names), (2, ["qa", "qb"]), (3, ["qc"])):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: rec for n in green})
        )

    def current(window):
        return window_is_current(
            window, names, repo=str(tmp_path), oracle_names=frozenset()
        )

    assert current(["qd", "qa", "qb", "qc"])  # generated after r03
    assert current(["qc", "qd", "qa", "qb"])  # generated after r02
    assert not current(["qa", "qb", "qc", "qd"])  # generated after r01


def test_hash_red_never_counts_as_certification(tmp_path):
    """A hash_match:false record on an oracle-bearing query must not
    advance its last-green round (VERDICT r12 ask #1 pinning test).

    The r12 bug: certified_rounds() credited rows_match && err==None as
    green even when the driver recorded hash_match=false for a query
    that HAS an oracle — so driver-red q121 rotated out of the window
    for ~3 rounds instead of heading the next one.
    """
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q_with_oracle": {"rows_match": True, "schema_match": True,
                          "hash_match": True, "err": None},
        "q_rows_only": {"rows_match": True, "schema_match": True,
                        "hash_match": False, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        # the r12 q121 shape: rows/schema green, hash RED, no error
        "q_with_oracle": {"rows_match": True, "schema_match": True,
                          "hash_match": False, "err": None},
        "q_rows_only": {"rows_match": True, "schema_match": True,
                        "hash_match": False, "err": None},
    }))
    cert = certified_rounds(
        repo=str(tmp_path), oracle_names=frozenset({"q_with_oracle"})
    )
    # oracle-bearing: hash-red r2 must NOT advance last-green past r1
    assert cert["q_with_oracle"][0] == 1, (
        "hash-red record advanced an oracle-bearing query's last-green round"
    )
    # oracle-less: rows-only fallback still applies
    assert cert["q_rows_only"][0] == 2


def test_generator_uses_registry_oracles(state):
    """The default oracle_names set is derived from the live registry, and
    the r12 failure mode is structurally closed: a query with an oracle is
    green only via hash_match."""
    from gen_gate_priority import _oracle_names

    names, certified = state
    oracles = _oracle_names()
    assert "q121_merge_into" in oracles
    # Under the tightened criterion q121's r12 hash-red record can never
    # be its last-green round (it was r9 at the r13 fix; later rounds may
    # re-certify it, but r12 stays permanently red).
    assert certified["q121_merge_into"][0] != 12


def test_window_names_are_registered(state):
    names, certified = state
    unknown = [n for n in _GATE_PRIORITY if n not in set(names)]
    assert not unknown, f"_GATE_PRIORITY names not in REGISTRY: {unknown}"


def test_registry_size_keeps_invariant_feasible(state):
    """Single tier: every name needs one of WINDOW slots at least every B
    rounds, so B = ceil(N / WINDOW) is the least bound any rotation can
    hold for N registered names."""
    names, _ = state
    b = staleness_bound(len(names))
    assert (b - 1) * WINDOW < len(names) <= b * WINDOW


def test_rotation_policy_converges(state):
    """Simulate 3·B future rounds under the generator: every query's
    staleness stays <= B while the backlog drains (the first B rounds)
    and <= B - 1 after that.

    Each simulated round certifies the first WINDOW names of the
    generated order, then the order is regenerated from the updated
    union — the process the repo commits each round.
    """
    names, certified = state
    b = staleness_bound(len(names))
    last = {n: certified[n][0] for n in names if n in certified}
    pos = {n: certified[n][1] if n in certified else i for i, n in enumerate(names)}
    current = max(last.values(), default=0)
    for rnd in range(current + 1, current + 1 + 3 * b):
        order = generate(names, {n: (r, pos[n]) for n, r in last.items()})
        for slot, n in enumerate(order[:WINDOW]):
            last[n] = rnd
            pos[n] = slot
        bound = b if rnd <= current + b else b - 1
        for n, r in last.items():
            assert rnd - r <= bound, f"round {rnd}: {n} staleness {rnd - r} > {bound}"
    assert len(last) == len(names), "some registry entry never entered the window"
