"""CORRECTNESS-rotation policy pins (plans/rotation.py).

The driver oracle-checks the FIRST ``rotation.WINDOW`` registry entries
each round, and ``rotation.reorder`` derives that order from the
committed driver rows and oracle snapshot. These tests pin the policy on
a synthetic registry and its result on the committed files. No Spark
session needed — pure metadata.
"""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path
from types import SimpleNamespace
from unittest import mock

REPO = Path(__file__).resolve().parent.parent

from lfb_data_warehouse_spark.plans import REGISTRY  # noqa: E402
from lfb_data_warehouse_spark.plans import rotation as rot  # noqa: E402

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}
RED = {**GREEN, "hash_match": False}


def _rotation_check():
    spec = importlib.util.spec_from_file_location(
        "rotation_check", REPO / "tools" / "rotation_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _front(last: dict[str, int]) -> set[str]:
    """Queries in reorder steps 1-3: flagship, never green or red,
    changed oracle."""
    return (
        {rot.FLAGSHIP}
        | {n for n in REGISTRY if last.get(n, 0) == 0}
        | set(rot.changed_oracles(REGISTRY, rot.load_snapshot()))
    )


def test_reorder_policy_on_synthetic_registry(tmp_path):
    names = [
        "z_stale",      # green r1 only; ties with a_stale, defined first
        "never",        # no driver row at all
        "red_latest",   # green r9, red in the newer r10
        "no_hash",      # latest row lacks hash_match: not green
        "changed",      # green r10, oracle text differs from snapshot
        "fresh",        # green r10
        "a_stale",      # green r1 only
        rot.FLAGSHIP,   # defined last, still first
    ]
    registry = {n: SimpleNamespace(oracle=f"SELECT '{n}'") for n in names}
    rounds = {
        1: {"z_stale": GREEN, "a_stale": GREEN, "no_hash": GREEN},
        9: {"red_latest": GREEN},
        10: {
            "red_latest": RED,
            "no_hash": {"rows_match": True, "schema_match": True},
            "changed": GREEN,
            "fresh": GREEN,
            rot.FLAGSHIP: GREEN,
        },
    }
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    # local sweeps are not driver rows
    (tmp_path / "LOCAL_CORRECTNESS_r10.json").write_text(json.dumps({"never": GREEN}))
    last = rot.load_last_green(tmp_path)
    assert last == {
        "z_stale": 1, "a_stale": 1, "red_latest": 0, "no_hash": 0,
        "changed": 10, "fresh": 10, rot.FLAGSHIP: 10,
    }
    snapshot = {**rot.oracle_hashes(registry), "changed": "0" * 64}
    assert list(rot.reorder(registry, last, snapshot)) == [
        rot.FLAGSHIP,
        "never", "red_latest", "no_hash",
        "changed",
        "z_stale", "a_stale", "fresh",
    ]
    # a query missing from the snapshot counts as changed
    del snapshot["changed"], snapshot["fresh"]
    assert list(rot.reorder(registry, last, snapshot))[4:6] == ["changed", "fresh"]
    # no driver rows at all: plain registry order behind the flagship
    assert list(rot.reorder(registry, {}, snapshot)) == [rot.FLAGSHIP] + names[:-1]


def test_flagship_is_first():
    assert next(iter(REGISTRY)) == "flagship_star_fact"


def test_unchecked_priority_fits_in_window():
    """Every never-green, red or changed-oracle query must get a driver
    row this round, so all of them sit inside the window."""
    window = set(list(REGISTRY)[: rot.WINDOW])
    out = sorted(_front(rot.load_last_green()) - window)
    assert not out, f"never-green/red/changed queries outside the window: {out}"


def test_window_holds_the_stalest_queries():
    """Behind the front steps, the window takes the oldest last-green
    rounds: none of its entries is fresher than any query left out."""
    last = rot.load_last_green()
    front = _front(last)
    names = list(REGISTRY)
    inside = [last[n] for n in names[: rot.WINDOW] if n not in front]
    outside = [last[n] for n in names[rot.WINDOW :]]
    assert not inside or not outside or max(inside) <= min(outside), (
        f"window reaches r{max(inside)} while r{min(outside)} queries wait"
    )


def test_oracle_texts_match_committed_snapshot():
    """Oracle-text drift pin (the historically riskiest change class):
    a changed oracle must land inside the driver window, and the
    snapshot is only re-taken once the driver has verified it."""
    window = set(list(REGISTRY)[: rot.WINDOW])
    drifted = [
        n for n in rot.changed_oracles(REGISTRY, rot.load_snapshot())
        if n not in window
    ]
    assert not drifted, f"oracle text changed OUTSIDE the driver window: {drifted}"


def test_freshness_green_requires_explicit_hash_match():
    """A driver row missing hash_match is a degraded row, not a green
    one — the rotation must never treat a weaker check as proof."""
    assert rot.green(GREEN)
    assert not rot.green({"rows_match": True, "schema_match": True})
    assert not rot.green({**GREEN, "hash_match": None})
    assert not rot.green(RED)
    assert not rot.green({**GREEN, "rows_match": None})


def test_rotation_check_tool_passes():
    """The maintenance tool itself must agree."""
    mod = _rotation_check()
    with mock.patch.object(sys, "argv", ["rotation_check.py"]):
        assert mod.main() == 0


def test_update_hashes_refuses_unverified_oracle(tmp_path):
    """--update-hashes re-snapshots only oracles the newest driver round
    proved green; otherwise it leaves the snapshot untouched."""
    mod = _rotation_check()
    real = rot.load_snapshot()
    newest = json.loads(rot.driver_rounds()[-1][1].read_text())
    proved = next(n for n in REGISTRY if rot.green(newest.get(n, {})))
    unproved = next(n for n in REGISTRY if n not in newest)
    target = tmp_path / "oracle_hashes.json"
    argv = ["rotation_check.py", "--update-hashes"]
    with mock.patch.object(sys, "argv", argv), mock.patch.object(rot, "SNAPSHOT", target):
        stale = {**real, unproved: "0" * 64}
        with mock.patch.object(rot, "load_snapshot", return_value=stale):
            assert mod.main() == 1
        assert not target.exists()
        stale = {**real, proved: "0" * 64}
        with mock.patch.object(rot, "load_snapshot", return_value=stale):
            assert mod.main() == 0
    assert json.loads(target.read_text()) == real
