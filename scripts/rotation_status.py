"""Gate-rotation bookkeeping: which registered queries have a
driver-green CORRECTNESS row, which were sampled but red, and which have
never been driver-sampled at all.

The driver verifies only the FIRST 50 registry entries per round, so
iteration order decides what gets external verification (`_GATE_FRONT`,
the first 50 names of `QUERY_ORDER` in aos_spark/queries/__init__.py).
This script computes the front from the CORRECTNESS_r*.json artifacts
and prints it; move those names to the head of `QUERY_ORDER`.

Priority order (VERDICT r7 "Next round" #4, extended r9):
1. reds — fixed bugs need a fresh green row first;
2. mismatch-log suspects — a query with a recorded hash-mismatch event
   (MISMATCH_LOG.jsonl) not yet cleared by a strictly-newer driver-green
   row; one observed divergence outranks any merely-stale green;
3. never-sampled, newest-first (newest = latest registry position);
4. OLDEST-green-first — once nothing is red or unsampled, the sample's
   marginal value is refreshing the stalest evidence, so greens fill the
   remaining slots ordered by their last driver-sampled round ascending
   (ties broken by registry position).

Usage: python scripts/rotation_status.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

DRIVER_WINDOW = 50


def sample_history() -> dict[str, tuple[int, bool]]:
    """name -> (last driver round that sampled it, green?) from the
    ON-DISK CORRECTNESS_r*.json artifacts (an uncommitted artifact counts
    too — local runs see the freshest evidence, which can make the
    rotation tests pass earlier locally than in a clean checkout; the
    driver always runs against the committed set plus its own new
    artifact, so the CI-facing answer is never stale). Shared with
    tests/test_rotation.py's structural lock."""
    sampled: dict[str, tuple[int, bool]] = {}
    for art in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = int(art.stem.split("_r")[1])
        for name, row in json.loads(art.read_text()).items():
            green = bool(
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            prev = sampled.get(name)
            # latest round wins; a later green supersedes an earlier red
            if prev is None or rnd >= prev[0]:
                sampled[name] = (rnd, green)
    return sampled


def mismatch_suspects(sampled: dict[str, tuple[int, bool]]) -> set[str]:
    """Queries with a recorded hash-mismatch event (MISMATCH_LOG.jsonl —
    scripts/check_oracle.py and scripts/gate_stability.py append there)
    that no strictly-newer driver-green row has cleared yet.

    Rationale (round 9, the r8 `order_autocorrelation` flake): a
    divergence observed even once makes that query the most valuable
    thing the driver window can re-verify, ahead of merely-stale greens.
    Each log entry records ``as_of_latest_driver_round`` (the newest
    CORRECTNESS_r*.json at log time); the suspicion clears when a LATER
    round samples the query green."""
    log = ROOT / "MISMATCH_LOG.jsonl"
    suspects: set[str] = set()
    if not log.exists():
        return suspects
    for line in log.read_text().splitlines():
        if not line.strip():
            continue
        entry = json.loads(line)
        name = entry.get("query")
        if name is None:
            continue
        as_of = entry.get("as_of_latest_driver_round", 10**9)
        prev = sampled.get(name)
        if prev is None or prev[0] <= as_of or not prev[1]:
            suspects.add(name)
    return suspects


def suggested_front(names: list[str], sampled: dict[str, tuple[int, bool]]) -> list[str]:
    """The full priority order (callers slice to DRIVER_WINDOW)."""
    pos = {n: i for i, n in enumerate(names)}
    reds = [n for n in names if n in sampled and not sampled[n][1]]
    suspect_set = mismatch_suspects(sampled)  # one log parse, not one per name
    suspects = [
        n for n in names
        if n in suspect_set and n not in set(reds)
    ]
    never = [n for n in names if n not in sampled and n not in set(suspects)]
    greens = sorted(
        (
            n for n in names
            if n in sampled and sampled[n][1] and n not in set(suspects)
        ),
        key=lambda n: (sampled[n][0], pos[n]),
    )
    return reds + suspects + list(reversed(never)) + greens


def main() -> int:
    from aos_spark.queries import QUERIES

    names = list(QUERIES)
    sampled = sample_history()

    reds = [n for n in names if n in sampled and not sampled[n][1]]
    never = [n for n in names if n not in sampled]
    greens = [n for n in names if n in sampled and sampled[n][1]]
    suspects = mismatch_suspects(sampled)

    print(f"registered: {len(names)}")
    print(f"driver-green: {len(greens)}")
    print(f"driver-red (latest sample): {len(reds)} {reds}")
    print(f"mismatch-log suspects (uncleared): {len(suspects)} {sorted(suspects)}")
    print(f"never driver-sampled: {len(never)}")
    for n in never:
        print(f"  {n}")

    front = suggested_front(names, sampled)
    print(
        "\nsuggested front-load (reds, then mismatch-log suspects, then "
        "never-sampled newest-first, then oldest-green-first):"
    )
    print(front[:DRIVER_WINDOW])
    # greens only: with a red front-loaded, its (older) sample round would
    # otherwise masquerade as the staleness figure (ADVICE r8)
    stale = [
        (n, sampled[n][0])
        for n in front[:DRIVER_WINDOW]
        if n in sampled and sampled[n][1]
    ]
    if stale:
        oldest = min(r for _, r in stale)
        print(f"(stalest green in window: round {oldest})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
