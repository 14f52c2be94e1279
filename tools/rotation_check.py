"""Report and check the derived CORRECTNESS window (plans/rotation.py).

The driver oracle-checks the first ``rotation.WINDOW`` registry entries
each round; ``rotation.reorder`` derives that order from the committed
CORRECTNESS_r<N>.json rows and tools/oracle_hashes.json. This tool
prints:

1. the last-green histogram over registry queries, the never-green
   names, and driver rows whose query is no longer registered;
2. the queries whose oracle text changed since the snapshot;
3. the derived window, each entry with its last-green round.

It exits non-zero if a never-green, red or changed-oracle query falls
outside the window (more of them than the window holds).

--update-hashes re-snapshots tools/oracle_hashes.json. Run it after a
driver round's CORRECTNESS_r<N>.json is committed. It refuses while any
changed-oracle query has no green row in the newest round: the new
snapshot would move that oracle out of the window before the driver
has verified it.

Usage: python tools/rotation_check.py [--update-hashes]
"""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from lfb_data_warehouse_spark.plans import REGISTRY  # noqa: E402
from lfb_data_warehouse_spark.plans import rotation as rot  # noqa: E402


def main() -> int:
    last = rot.load_last_green()
    snapshot = rot.load_snapshot()
    changed = rot.changed_oracles(REGISTRY, snapshot)
    window = list(rot.reorder(REGISTRY, last, snapshot))[: rot.WINDOW]
    rounds = rot.driver_rounds()
    problems: list[str] = []

    hist = Counter(last.get(n, 0) for n in REGISTRY)
    print(f"registry: {len(REGISTRY)}; driver rounds: {[r for r, _ in rounds]}")
    print("last-green histogram (0 = never green or latest row red):",
          dict(sorted(hist.items())))
    never = [n for n in REGISTRY if last.get(n, 0) == 0]
    if never:
        print(f"never green or latest row red ({len(never)}): {never}")
    orphans = sorted(set(last) - set(REGISTRY))
    if orphans:
        print(f"driver rows with no registry entry ({len(orphans)}): {orphans}")
    if changed:
        print(f"oracle text changed since snapshot ({len(changed)}): {changed}")

    print(f"\nwindow ({len(window)} of {len(REGISTRY)}):")
    for n in window:
        print(f"  r{last.get(n, 0):<3} {'changed ' if n in changed else ''}{n}")
    out = [n for n in never + changed if n not in window]
    if out:
        problems.append(f"never-green, red or changed-oracle queries OUTSIDE the window: {out}")

    if "--update-hashes" in sys.argv[1:]:
        newest = json.loads(rounds[-1][1].read_text()) if rounds else {}
        unverified = [n for n in changed if not rot.green(newest.get(n, {}))]
        if unverified:
            problems.append(
                "snapshot NOT updated: changed oracles without a green row in "
                f"the newest driver round: {unverified}"
            )
        else:
            cur = rot.oracle_hashes(REGISTRY)
            rot.SNAPSHOT.write_text(json.dumps(cur, indent=0, sort_keys=True) + "\n")
            print(f"snapshot updated: {rot.SNAPSHOT} ({len(cur)} oracles)")
    for p in problems:
        print(f"VIOLATION: {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
