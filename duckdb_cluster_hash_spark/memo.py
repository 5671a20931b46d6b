"""Session memo: build each (owner, key) value once and share it.

Catalog queries over one corpus repeat expensive intermediates (shingle
tables, corpus probes, trainer runs, index writes).  ``build_once`` runs
each build once per owner and hands every caller the same value; the
store is weakly keyed by the owner (the canonical frame ``load_table``
returns), so entries die with it.  ``clear`` is the one reset every
timing harness calls between runs.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame


class _Slot:
    __slots__ = ("lock", "done", "value")

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.done = False
        self.value = None


_STORE: "weakref.WeakKeyDictionary[object, dict]" = weakref.WeakKeyDictionary()
_STORE_LOCK = threading.Lock()


def build_once(owner, key, build):
    """Return ``build()`` for ``(owner, key)``, running it at most once
    per successful build.  Concurrent callers of one key wait on the
    builder's slot lock; if the build raises, the error reaches only the
    builder and the next waiter builds.  A ``None`` result is memoized."""
    with _STORE_LOCK:
        slot = _STORE.setdefault(owner, {}).setdefault(key, _Slot())
    with slot.lock:
        if not slot.done:
            slot.value = build()
            slot.done = True
    return slot.value


def clear(owner=None) -> int:
    """Drop the memo entries of ``owner``, or of every owner; return how
    many built entries were dropped.  Slots whose lock is held (a build
    in flight) are left for a later call.  DataFrame values are
    unpersisted.  Quiesce jobs that consume the dropped values first:
    a localCheckpoint'ed frame cannot recompute its blocks."""
    dropped = 0
    with _STORE_LOCK:
        owners = list(_STORE.keys()) if owner is None else [owner]
        for o in owners:
            slots = _STORE.get(o, {})
            for key, slot in list(slots.items()):
                if slot.lock.locked():
                    continue
                if isinstance(slot.value, DataFrame):
                    try:
                        slot.value.unpersist()
                    except Exception:
                        pass  # session already stopped; the memo is moot
                dropped += slot.done
                del slots[key]
            if not slots:
                _STORE.pop(o, None)
    return dropped
