"""Table discovery monitor (S7) — catalog polling for new/dropped
tables.

The reference runs a background ``TableMonitorThread`` that re-lists
the database catalog every ``table.poll.interval.ms``, filters by
``table.whitelist`` / ``table.blacklist``, and triggers connector task
reconfiguration when the set changes
(``source/TableMonitorThread.java``; interval config
``JdbcSourceConnectorConfig.java:186-192``).

Here the "catalog" is the lake warehouse directory (a table = a child
dir with a ``_manifest/CURRENT`` pointer — the Iceberg-catalog-listing
analogue).  The monitor is deliberately synchronous (`poll()` returns
the diff); a caller wanting the reference's thread shape wraps it in
its own scheduler, exactly like Connect does.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class TableMonitor:
    """Detects table add/drop between polls.

    ``whitelist`` / ``blacklist`` mirror ``table.whitelist`` /
    ``table.blacklist`` (mutually exclusive in the reference —
    enforced here too).
    """

    warehouse: str
    whitelist: frozenset[str] = frozenset()
    blacklist: frozenset[str] = frozenset()
    _known: set[str] = field(default_factory=set, repr=False)
    _primed: bool = field(default=False, repr=False)

    def __post_init__(self):
        if self.whitelist and self.blacklist:
            raise ValueError(
                "table.whitelist and table.blacklist are mutually exclusive "
                "(JdbcSourceConnectorConfig semantics)"
            )

    def list_tables(self) -> list[str]:
        """Current catalog snapshot: committed tables under the
        warehouse, filtered."""
        if not os.path.isdir(self.warehouse):
            return []
        out = []
        for entry in sorted(os.listdir(self.warehouse)):
            if entry.startswith("_"):
                continue  # _lineage and other _-prefixed dirs are not tables
            cur = os.path.join(self.warehouse, entry, "_manifest", "CURRENT")
            if not os.path.exists(cur):
                continue
            if self.whitelist and entry not in self.whitelist:
                continue
            if entry in self.blacklist:
                continue
            out.append(entry)
        return out

    def poll(self) -> dict:
        """One monitor tick: diff against the last snapshot.  Returns
        ``{"added": [...], "dropped": [...], "tables": [...]}``; the
        first poll primes the snapshot (everything 'added'), matching
        the reference's startup table discovery."""
        current = set(self.list_tables())
        added = sorted(current - self._known)
        dropped = sorted(self._known - current)
        self._known = current
        self._primed = True
        return {"added": added, "dropped": dropped, "tables": sorted(current)}

    def changed(self) -> bool:
        """True iff a poll would report a diff (the reconfiguration
        trigger condition of ``TableMonitorThread``)."""
        return set(self.list_tables()) != self._known or not self._primed
