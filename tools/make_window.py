"""Derive the next driver-rotation window from committed evidence.

The rotation policy (queries/__init__.py): the 50-slot driver window for
the upcoming round is

    all never-driver-checked queries first (base registration order),
    then strictly oldest-driver-evidence-first,
    ties broken by base registration order.

"Driver evidence" for a query is the latest round whose committed
``CORRECTNESS_r*.json`` contains it. This module is the single source of
that derivation: ``python tools/make_window.py`` prints the full policy
ordering of every registered query (its head 50 is the window), ready
to paste as the body of ``_PRIORITY`` after each driver round, and
``tests/test_registry.py::test_rotation_policy_bounded_staleness``
asserts the committed head-50 equals the window.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def last_checked(repo: str = REPO) -> tuple[dict[str, int], int]:
    """name -> latest round with committed driver evidence, and the
    latest artifact round overall."""
    last: dict[str, int] = {}
    latest = 0
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if not m:
            continue
        r = int(m.group(1))
        latest = max(latest, r)
        with open(f) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), r)
    return last, latest


def derive_order(registry_names: list[str], repo: str = REPO) -> list[str]:
    """The full policy ordering: never-checked first (registration
    order), then oldest-evidence-first with registration-order
    tiebreak."""
    last, _ = last_checked(repo)
    pos = {n: i for i, n in enumerate(registry_names)}
    never = [n for n in registry_names if n not in last]
    checked = sorted(
        (n for n in registry_names if n in last),
        key=lambda n: (last[n], pos[n]),
    )
    return never + checked


def derive_window(registry_names: list[str], repo: str = REPO) -> list[str]:
    """The policy window: the head of :func:`derive_order`."""
    return derive_order(registry_names, repo)[:WINDOW]


def main() -> None:
    import sys

    sys.path.insert(0, REPO)
    from cryoflow_spark.queries import REGISTRY, all_queries

    all_queries()  # trigger registration
    base = list(REGISTRY)  # base registration order, not _PRIORITY order
    last, latest = last_checked()
    print(f"    # --- round-{latest + 1} window head: oldest-evidence "
          "cohort (regenerate")
    print("    # with tools/make_window.py after each driver round) ---")
    for i, n in enumerate(derive_order(base)):
        if i == WINDOW:
            print(f"    # --- positions {WINDOW + 1}+: pre-committed "
                  "following rounds ---")
        print(f'    "{n}",  # last checked: r{last.get(n, 0) or "never"}')


if __name__ == "__main__":
    main()
