"""Content-addressed memo for the kernel's pure per-glyph functions.

A synthetic or typeset page repeats the same character slices and the same
sub-word contours many times, so each Python worker keeps one small memo per
pure function, keyed on the exact content the function reads (no hash stands
in for the content: equal keys are equal inputs).  The memo is bounded by an
estimated byte footprint and evicts in insertion order; a miss just
recomputes, so the bound trades hit rate only, never results.
"""

from __future__ import annotations

from collections import OrderedDict

__all__ = ["BoundedMemo"]

# bookkeeping per entry on top of its content bytes: the ordered-dict slot,
# the key tuple and its objects, the (value, cost) pair and the value (a
# short list of scalars) — 490-580 B measured with tracemalloc on 64-bit
# CPython for the kernel's two key shapes; rounded up
ENTRY_OVERHEAD = 640


class BoundedMemo:
    """Insertion-ordered key -> value map whose charged bytes (each entry's
    content bytes + ENTRY_OVERHEAD) never exceed `budget`.  `put` evicts the
    oldest entries until the new one fits; an entry larger than the whole
    budget is not stored."""

    def __init__(self, budget: int):
        self.budget = budget
        self.used = 0
        self.hits = 0
        self.misses = 0
        self._entries: OrderedDict = OrderedDict()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key):
        """The stored value, or None on a miss (None is never stored)."""
        entry = self._entries.get(key)
        if entry is None:
            self.misses += 1
            return None
        self.hits += 1
        return entry[0]

    def put(self, key, value, content_bytes: int) -> None:
        """Store a key that `get` just missed."""
        cost = content_bytes + ENTRY_OVERHEAD
        if cost > self.budget:
            return
        while self.used + cost > self.budget:
            _, (_, old_cost) = self._entries.popitem(last=False)
            self.used -= old_cost
        self._entries[key] = (value, cost)
        self.used += cost

    def clear(self) -> None:
        self._entries.clear()
        self.used = self.hits = self.misses = 0
