"""Generate `_GATE_PRIORITY` from the CORRECTNESS_r*.json union.

The correctness driver hash-checks only the FIRST 50 entries of
``queries()`` in iteration order, so certification must rotate across
rounds.  The committed order in ``swiftlake_spark/queries/__init__.py``
is generated here and pinned by ``tests/test_gate_rotation.py``.

Rotation rule (one sort key): every registered name ordered by (last
green round, position in that round's CORRECTNESS file), names never
certified first in registry order.  The checked window is the first
``WINDOW`` names.  A registry of N names needs ceil(N / WINDOW) windows
to cover, so that is the staleness bound (:func:`staleness_bound`)
while a backlog drains; after that every name is re-certified within
one round less.

Usage:
    python scripts/gen_gate_priority.py           # print the list source
    python scripts/gen_gate_priority.py --check   # exit 1 if the committed window is stale
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

WINDOW = 50  # driver gate width (CORRECTNESS_r*.json have exactly 50 keys)


def staleness_bound(n_registered: int) -> int:
    """B = ceil(N / WINDOW): the fewest rounds in which every one of N
    registered names can take a window slot."""
    return math.ceil(n_registered / WINDOW)


def _oracle_names() -> frozenset[str]:
    """Names whose registry entry declares a DuckDB oracle (``all_oracles()``)."""
    from swiftlake_spark.queries import REGISTRY, _load_all

    _load_all()
    return frozenset(n for n, q in REGISTRY.items() if q.oracle is not None)


def certified_rounds(
    repo: str = _REPO,
    exclude_newest: bool = False,
    oracle_names: frozenset[str] | None = None,
) -> dict[str, tuple[int, int]]:
    """name -> (last green round, key position in that round's file).

    Green criterion (tightened r13, VERDICT r12 ask #1): an oracle-bearing
    query is green ONLY if the driver recorded ``hash_match``.  The weaker
    rows-only-with-no-error fallback applies exclusively to names absent
    from ``all_oracles()`` (non-SQL-expressible queries, where rows-only is
    all the driver ever records).  A ``hash_match: false`` record on an
    oracle-bearing query therefore never advances its last-green round, so
    the failing query keeps its place at the head of the next window.

    ``exclude_newest=True`` drops the highest-numbered CORRECTNESS file,
    reconstructing the union the previous window was generated from
    (see :func:`window_is_current`).
    """
    if oracle_names is None:
        oracle_names = _oracle_names()
    paths = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if exclude_newest and paths:
        paths = paths[:-1]
    out: dict[str, tuple[int, int]] = {}
    for path in paths:
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as fh:
            data = json.load(fh)
        for pos, (name, rec) in enumerate(data.items()):
            if name in oracle_names:
                green = bool(rec.get("hash_match"))
            else:
                green = bool(rec.get("rows_match")) and rec.get("err") is None
            if green and (name not in out or rnd >= out[name][0]):
                out[name] = (rnd, pos)
    return out


def generate(
    registry_names: list[str], certified: dict[str, tuple[int, int]]
) -> list[str]:
    """Full gate ordering: the rotation rule above as one sort key
    (never-certified names sort as round -1 at their registry position)."""
    reg_pos = {n: i for i, n in enumerate(registry_names)}
    return sorted(registry_names, key=lambda n: certified.get(n, (-1, reg_pos[n])))


def window_is_current(
    committed: list[str],
    registry_names: list[str],
    repo: str = _REPO,
    oracle_names: frozenset[str] | None = None,
) -> bool:
    """Is ``committed[:WINDOW]`` the generated window?

    One generation of lag is legal: the next CORRECTNESS file is
    written after a window is committed, so the window generated
    from the union without the newest round is still current.  A window
    two or more generations old is a forgotten rotation.
    """
    got = list(committed)[:WINDOW]
    return any(
        got == generate(
            registry_names,
            certified_rounds(repo, exclude_newest=lag, oracle_names=oracle_names),
        )[:WINDOW]
        for lag in (False, True)
    )


def _registry_names() -> list[str]:
    from swiftlake_spark.queries import REGISTRY, _load_all

    _load_all()
    return list(REGISTRY)


def _as_source(names: list[str], certified: dict[str, tuple[int, int]]) -> str:
    lines = ["_GATE_PRIORITY = ["]
    cur = None
    for n in names:
        tag = f"last certified r{certified[n][0]}" if n in certified else "never driver-certified"
        if tag != cur:
            lines.append(f"    # {tag}")
            cur = tag
        lines.append(f"    {n!r},")
    lines.append("]")
    return "\n".join(lines)


def main() -> int:
    certified = certified_rounds()
    names = _registry_names()
    window = generate(names, certified)[:WINDOW]
    if "--check" in sys.argv:
        from swiftlake_spark.queries import _GATE_PRIORITY

        if not window_is_current(_GATE_PRIORITY, names):
            print("MISMATCH: committed _GATE_PRIORITY window is more than one round stale")
            for i, (a, b) in enumerate(zip(list(_GATE_PRIORITY)[:WINDOW], window)):
                if a != b:
                    print(f"  slot {i}: committed={a} generated={b}")
            return 1
        print(f"OK: committed window is current ({WINDOW} slots, {len(names)} registered)")
        return 0
    print(_as_source(window, certified))
    n_stale = sum(1 for n in window if n in certified)
    print(
        f"# window={WINDOW} registry={len(names)} "
        f"staleness bound={staleness_bound(len(names))} "
        f"(certified in window: {n_stale}, new: {WINDOW - n_stale})",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
