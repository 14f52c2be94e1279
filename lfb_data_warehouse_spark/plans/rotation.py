"""CORRECTNESS-rotation order for the query registry.

The driver oracle-checks the first ``WINDOW`` registry entries (dict
insertion order) each round. The order is derived from committed files
only: the driver's rows in the repo-root ``CORRECTNESS_r<N>.json``
files and the oracle snapshot ``tools/oracle_hashes.json``. Nothing
here is kept by hand, so no round needs an edit to this file.
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

WINDOW = 50
FLAGSHIP = "flagship_star_fact"
REPO = Path(__file__).resolve().parents[2]
SNAPSHOT = REPO / "tools" / "oracle_hashes.json"


def green(row: dict) -> bool:
    """A driver row counts as green only on an explicit full match.
    hash_match must be literally True: a missing key is a degraded row,
    and counting it green would let a weaker check than the oracle
    contract keep a query out of the window."""
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
    )


def driver_rounds(repo: Path = REPO) -> list[tuple[int, Path]]:
    """``(round, path)`` for every driver row file, oldest first."""
    found = (
        (re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name), p)
        for p in repo.glob("CORRECTNESS_r*.json")
    )
    return sorted((int(m.group(1)), p) for m, p in found if m)


def load_last_green(repo: Path = REPO) -> dict[str, int]:
    """``{name: rank}``: the round of the query's latest driver row if
    that row is green, 0 if it is red."""
    rank: dict[str, int] = {}
    for rnd, path in driver_rounds(repo):
        for name, row in json.loads(path.read_text()).items():
            rank[name] = rnd if green(row) else 0
    return rank


def load_snapshot(path: Path = SNAPSHOT) -> dict[str, str]:
    return json.loads(path.read_text()) if path.exists() else {}


def oracle_hashes(registry: dict) -> dict[str, str]:
    return {
        name: hashlib.sha256(spec.oracle.encode()).hexdigest()
        for name, spec in registry.items()
        if spec.oracle
    }


def changed_oracles(registry: dict, snapshot: dict[str, str]) -> list[str]:
    """Queries whose oracle text differs from (or is missing in) the
    snapshot, in registry order."""
    return [n for n, h in oracle_hashes(registry).items() if snapshot.get(n) != h]


def reorder(registry: dict, last_green: dict[str, int], snapshot: dict[str, str]) -> dict:
    """Return the registry in CORRECTNESS-window order:

    1. the flagship (the ``entry()`` query);
    2. queries whose latest driver row is red or that have none;
    3. queries whose oracle text changed since the snapshot;
    4. everything else, stalest last-green round first.

    Ties keep the order ``registry`` arrives in (the sort is stable).
    """
    changed = set(changed_oracles(registry, snapshot))

    def key(name: str) -> tuple[int, int]:
        rank = last_green.get(name, 0)
        if name == FLAGSHIP:
            return (1, 0)
        if rank == 0:
            return (2, 0)
        return (3, 0) if name in changed else (4, rank)

    return {name: registry[name] for name in sorted(registry, key=key)}
