"""Sequential reference model of the changelog apply.

Applies change events one at a time, per key in (ts, seq) order, over the
initial rows — the plain reading of the MERGE contract (latest event per
key wins, a delete drops the key, a later insert brings it back). The
benchmark compares the sink's final state to this model exactly.
"""

from __future__ import annotations

from datagen import Events


def apply_events(initial: dict[int, dict], batches: list[Events]) -> dict[int, dict]:
    """Final key -> row after applying every event of ``batches``."""
    state = dict(initial)
    order = sorted(
        ((int(ev.ts_ms[i]), int(ev.seq[i]), b, i) for b, ev in enumerate(batches) for i in range(len(ev))),
    )
    for _, _, b, i in order:
        ev = batches[b]
        if ev.op[i] == "d":
            state.pop(int(ev.key[i]), None)
        else:
            state[int(ev.key[i])] = ev.after[i]
    return state


def mismatched_keys(expected: dict[int, dict], actual: dict[int, dict]) -> set[int]:
    """Keys whose row differs, is missing, or is unexpected."""
    keys = set(expected) | set(actual)
    return {k for k in keys if expected.get(k) != actual.get(k)}


def events_on_keys(batches: list[Events], keys: set[int]) -> int:
    """How many events touched any of ``keys``."""
    return sum(int(k) in keys for ev in batches for k in ev.key)
