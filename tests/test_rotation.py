"""Structural lock for gate-sample rotation (VERDICT r6 "Next round" #2,
extended per VERDICT r7 #4).

The driver verifies only the FIRST 50 registry entries per round, so a
query that never rotates into that window never earns external
verification. r6 shipped with 24 never-sampled queries parked at
positions 50-59/189-202 because the hand-maintained front list went
stale. These tests recompute the rotation state mechanically from the
on-disk CORRECTNESS_r*.json artifacts (same logic as
scripts/rotation_status.py) and fail if the committed front list drifts
from the policy — making a stale front list a CI red, not a verdict
finding.

Policy (priority order):
1. reds must sit inside the driver window (fixed bugs need fresh rows);
2. mismatch-log suspects (MISMATCH_LOG.jsonl entries not yet cleared by
   a strictly-newer driver-green row) must sit inside the window — one
   observed divergence outranks any merely-stale green (round 9, the r8
   order_autocorrelation flake);
3. never-sampled must sit inside the window;
4. with no reds and nothing unsampled, the window refreshes the STALEST
   greens: no green inside the window may be strictly newer than a green
   left outside it (suspects exempt — they sit inside regardless of
   their last-sampled round).
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "scripts"))

DRIVER_WINDOW = 50


def _state():
    from rotation_status import mismatch_suspects, sample_history

    from aos_spark.queries import QUERIES

    names = list(QUERIES)
    sampled = sample_history()
    reds = [n for n in names if n in sampled and not sampled[n][1]]
    never = [n for n in names if n not in sampled]
    suspects = sorted(mismatch_suspects(sampled))
    return names, sampled, reds, never, suspects


def test_reds_suspects_and_never_sampled_sit_inside_driver_window():
    names, _, reds, never, suspects = _state()
    pos = {n: i for i, n in enumerate(names)}
    out_of_window = {
        n: pos[n] for n in reds + suspects + never if pos[n] >= DRIVER_WINDOW
    }
    assert not out_of_window, (
        f"{len(out_of_window)} queries needing driver verification sit at "
        f"registry positions >= {DRIVER_WINDOW} (outside the driver's "
        f"per-round sample). Re-run scripts/rotation_status.py and paste "
        f"its suggested front to the head of QUERY_ORDER: "
        f"{out_of_window}"
    )


def test_front_list_covers_every_query_needing_verification():
    """The committed front list must contain every red / never-sampled
    query (extras are harmless — they just get re-verified), so the
    hand-pasted list cannot silently omit what the artifacts say needs a
    driver row."""
    from aos_spark.queries import _GATE_FRONT

    _, _, reds, never, suspects = _state()
    missing = set(reds + suspects + never) - set(_GATE_FRONT)
    assert not missing, (
        f"front list omits queries needing driver verification: "
        f"{sorted(missing)}"
    )


def test_window_refreshes_stalest_greens_first():
    """Oldest-green-first (VERDICT r7 #4): once nothing is red or
    unsampled, no green INSIDE the window may have a strictly newer last
    driver row than a green OUTSIDE it — otherwise the sample burns slots
    re-verifying fresh evidence while stale rows age further. Ties at the
    boundary round are fine (any subset of that round's greens works).

    Greens sampled in the LATEST on-disk round are exempt: the driver
    re-samples the committed window, so the moment its artifact lands the
    window's own entries become that round's freshest rows — that is the
    policy having EXECUTED, not drifted (without the exemption the test
    turns red the instant the round's CORRECTNESS file appears, through
    no fault in the code). The next session's re-run of
    scripts/rotation_status.py rotates them back out."""
    names, sampled, reds, never, suspects = _state()
    if reds or never:
        return  # reds/never take absolute priority; staleness is moot
    latest = max(rnd for rnd, _ in sampled.values())
    window, rest = names[:DRIVER_WINDOW], names[DRIVER_WINDOW:]
    in_rounds = [
        sampled[n][0] for n in window
        if sampled[n][0] != latest and n not in set(suspects)
    ]
    if not in_rounds:
        return  # whole window just sampled — policy executed this round
    newest_in = max(in_rounds)
    oldest_out = min(sampled[n][0] for n in rest)
    assert newest_in <= oldest_out, (
        f"window holds a round-{newest_in} green while a round-"
        f"{oldest_out} green sits outside it — re-run "
        f"scripts/rotation_status.py and refresh the front list"
    )


def test_gate_front_is_the_registry_prefix():
    """_GATE_FRONT must actually BE the registry's iteration-order prefix
    — a list that is pasted but not applied verifies nothing."""
    from aos_spark.queries import _GATE_FRONT, QUERIES

    assert list(QUERIES)[: len(_GATE_FRONT)] == list(_GATE_FRONT)
