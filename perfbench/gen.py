"""Seeded input generator: ``events``-shaped parquet from numpy + pyarrow.

The file has the schema of the repository test data's ``events`` table
(``event_id, ts, user_id, event_type, value, props``), so
``sources.changelog.transcript_changelog`` turns it into the nested
transcript envelope feed unchanged.  Each ``user_id`` is one
conversation; its events are its turns.  ``event_id`` is assigned in
global ``ts`` order, so binlog order (``seq = event_id``) and turn order
agree, which is the property the ``FINAL_STATE_SQL`` oracle relies on.
Users with ``user_id % 10 == 7`` are tombstoned by the changelog, a
share fixed at 10 % by that oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error", "search"])
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def turn_counts(rng: np.random.Generator, spec: dict) -> np.ndarray:
    """Turns per conversation, from the workload's ``turns`` spec.

    ``uniform``: each conversation draws from ``[min, max]``.
    ``zipf``: the rank-size law, ``max / rank**exponent`` turns (at
    least 1) for the conversation of that rank, with ranks dealt to
    users by the seed within each class of ``user_id % 10``.  The sizes
    of the tombstoned class (``% 10 == 7``) and of the rest, and so the
    total work and the final table, are the same for every seed; which
    users are hot is not."""
    n = spec["conversations"]
    t = spec["turns"]
    if t["dist"] == "uniform":
        return rng.integers(t["min"], t["max"] + 1, size=n)
    if t["dist"] == "zipf":
        ranks = np.arange(1, n + 1)
        sizes = np.maximum(1, np.floor(t["max"] / ranks ** t["exponent"])).astype(np.int64)
        out = np.empty(n, dtype=np.int64)
        for c in range(10):
            users = np.arange(c, n, 10)
            out[users] = sizes[rng.permutation(users)]
        return out
    raise ValueError(f"unknown turns distribution {t['dist']!r}")


def events_table(seed: int, spec: dict) -> pa.Table:
    """All turns of all conversations, interleaved uniformly at random
    over one timeline (every micro-batch by ``seq`` range touches keys
    all over the key space)."""
    rng = np.random.default_rng(seed)
    counts = turn_counts(rng, spec)
    users = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    users = users[rng.permutation(len(users))]
    n = len(users)
    # strictly increasing timestamps: event_id order == ts order
    ts = BASE_TS_US + np.cumsum(rng.integers(1, 2_000_000, size=n))
    kinds = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    value = np.round(rng.uniform(0.0, 500.0, size=n), 2)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(kinds.astype(object), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props.astype(object), type=pa.string()),
        }
    )


def write_events(out_dir: str, seed: int, spec: dict) -> str:
    """Write ``<out_dir>/events.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events_table(seed, spec), os.path.join(out_dir, "events.parquet"))
    return out_dir
