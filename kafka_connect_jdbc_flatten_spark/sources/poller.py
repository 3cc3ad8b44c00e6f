"""Batch polling source — the reference's JDBC source task loop.

``JdbcSourceTask.poll`` repeatedly executes
``SELECT * FROM t WHERE <criteria> ORDER BY ts, inc LIMIT batch.max.rows``
and persists a resumable ``(timestamp, incrementing)`` offset per table
(``JdbcSourceTask.java:342-412``, ``TimestampIncrementingOffset.java:54-84``).
Structured Streaming replaces this loop in production (checkpointed
offsets), but the batch poller is part of the reference's public
surface — modes ``bulk | incrementing | timestamp |
timestamp+incrementing`` (``JdbcSourceConnectorConfig.java:155-159``) —
and is useful for backfills driven by an external scheduler.

Offsets are plain dicts (JSON-serializable), mirroring
``TimestampIncrementingOffset.toMap()``.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .incremental import IncrementalCriteria

MODES = ("bulk", "incrementing", "timestamp", "timestamp+incrementing")


@dataclass
class TablePoller:
    """Poll a snapshot-readable table incrementally.

    ``batch_max_rows`` caps each poll (``batch.max.rows`` default 100,
    ``JdbcSourceConnectorConfig.java:93-97``); ``timestamp_delay_ms``
    is the late-transaction guard (``:255-263``): rows with
    ``ts >= now - delay`` are left for a later poll so in-flight
    writes with earlier timestamps are never skipped.
    """

    mode: str = "timestamp+incrementing"
    # one column, or a LIST of columns with COALESCE semantics — the
    # reference's multi-timestamp-column mode (first non-null wins;
    # TimestampIncrementingCriteria.java:283-293, the nullable
    # ``updated_at``-beside-``created_at`` CDC shape)
    ts_col: str | tuple[str, ...] | list[str] | None = "ts"
    inc_col: str | None = "seq"
    batch_max_rows: int = 100
    timestamp_delay_ms: int = 0
    # validate.non.null (JdbcSourceConnectorConfig.java:247-253,
    # JdbcSourceTask.java:414-469, default true): before the first
    # poll, fail if the offset columns can carry nulls — an
    # incrementing column with ANY null row, or a timestamp column
    # set whose COALESCE is ever null (the reference requires the inc
    # column NOT NULL and ≥1 non-optional ts column; with no catalog
    # constraint to inspect, the data-level check is the Spark
    # analogue).  A null offset row would otherwise be skipped
    # forever with no error.  False skips the check — null-ts rows
    # are then silently invisible to the tail (documented).
    validate_non_null: bool = True
    # first-poll offset seeding (``timestamp.initial``,
    # ``JdbcSourceTask.java:280-309``, ``JdbcSourceConnectorConfig.java:
    # 178-184``): a datetime starts the tail AFTER that instant;
    # "current" (the reference's -1) starts at poll time, skipping
    # history.  Ignored once an offset exists.
    timestamp_initial: datetime.datetime | str | None = None
    offset: dict = field(default_factory=dict)  # {"timestamp": iso, "incrementing": int}

    def __post_init__(self):
        if self.mode not in MODES:
            raise ValueError(f"mode must be one of {MODES}")
        if self.mode == "bulk":
            self.ts_col = self.inc_col = None
        elif self.mode == "incrementing":
            self.ts_col = None
        elif self.mode == "timestamp":
            self.inc_col = None
        self._validated = False
        self._last_poll_rows = 0  # set by poll(); consumed by poll_all

    @property
    def criteria(self) -> IncrementalCriteria:
        return IncrementalCriteria(ts_col=self.ts_col, inc_col=self.inc_col)

    def _validate_non_null(self, df: DataFrame) -> None:
        """First-poll offset-column null check — the Spark analogue of
        the reference's fail-to-start validation (see field doc)."""
        crit = self.criteria
        checks = []
        if self.inc_col:
            checks.append(
                (F.col(self.inc_col).isNull(),
                 f"incrementing column {self.inc_col!r}")
            )
        if crit.ts_cols:
            checks.append(
                (crit.ts_expr().isNull(),
                 f"timestamp column(s) {list(crit.ts_cols)}")
            )
        if not checks:
            return
        # one combined probe on the happy path (r6: the per-check
        # probes were one job each, every first poll); the per-check
        # scans below run only once a violation is known to exist,
        # so the error text still names the exact offending column
        any_null = F.lit(False)
        for cond, _ in checks:
            any_null = any_null | cond
        if df.filter(any_null).limit(1).count() == 0:
            return
        for cond, what in checks:
            if df.filter(cond).limit(1).count() > 0:
                raise ValueError(
                    f"Cannot make incremental queries using {what}: null "
                    "values present — such rows would be skipped forever. "
                    "Make the column(s) non-null (or COALESCE-able via a "
                    "ts_col list), or set validate_non_null=False to "
                    "accept that null-offset rows are invisible to the "
                    "tail (validate.non.null, "
                    "JdbcSourceConnectorConfig.java:247-253)"
                )

    def _last(self) -> tuple[datetime.datetime | None, int | None]:
        ts = self.offset.get("timestamp")
        if isinstance(ts, str):
            ts = datetime.datetime.fromisoformat(ts)
        if ts is None and self.timestamp_initial is not None:
            ts = (
                datetime.datetime.now()
                if self.timestamp_initial == "current"
                else self.timestamp_initial
            )
        return ts, self.offset.get("incrementing")

    def poll(
        self,
        df: DataFrame,
        end_ts: datetime.datetime | None = None,
    ) -> DataFrame:
        """One poll: the next ≤ batch_max_rows changes past the stored
        offset in (ts, inc) total order; advances the offset to the
        batch's maximum (the reference's ``extractValues`` running
        offset, ``TimestampIncrementingCriteria.java:183-262``).

        ``bulk`` mode re-reads the whole table and keeps no offset
        (``BulkTableQuerier``)."""
        if self.mode == "bulk":
            return df

        crit = self.criteria
        if self.validate_non_null and not self._validated:
            self._validate_non_null(df)
            self._validated = True

        # the late-transaction guard must hold even when the caller
        # passes no end bound — the reference ALWAYS bounds by current
        # DB time minus the delay (endTimetampValue,
        # TimestampIncrementingTableQuerier.java:208-214)
        if self.timestamp_delay_ms > 0 and end_ts is None and crit.ts_cols:
            end_ts = datetime.datetime.now()

        last_ts, last_inc = self._last()
        if crit.ts_cols and last_ts is None:
            last_ts = datetime.datetime(1970, 1, 1)
        if self.inc_col and last_inc is None:
            last_inc = -1

        filtered = df.filter(
            crit.predicate(
                last_ts, last_inc, end_ts=end_ts, delay_ms=self.timestamp_delay_ms
            )
        )

        # one narrow count answers "does the remainder fit one page";
        # it also gives poll_all emptiness for free (r6)
        n_match = filtered.count()
        self._last_poll_rows = n_match
        if n_match == 0:
            return filtered  # empty; offset unchanged
        order = [e.asc() for e in crit.order_exprs()]
        # the page's (ts, inc) maximum: on a short page a scan-parallel
        # aggregate over every match; on a full page the LIMIT's cut
        short = n_match <= self.batch_max_rows
        page = filtered if short else filtered.orderBy(*order).limit(self.batch_max_rows)
        # the batch is the matches up to the offset the page advanced
        # to, so rows the source gains before the batch is consumed wait
        # for the next poll.  A timestamp-only batch keeps every row at
        # the boundary ts (see _advance), so it takes no LIMIT.
        batch = filtered.filter(self._advance(page)).orderBy(*order)
        if short or self.mode == "timestamp":
            return batch
        # the bound admits exactly the page's rows, so this LIMIT cuts
        # none; it plans the sort as one top-K task, where a range sort
        # would rerun its sampling job at every consumption of the batch
        return batch.limit(self.batch_max_rows)

    def _advance(self, page: DataFrame):
        """Advance the offset to the max ``(ts, inc)`` of ``page`` — one
        tiny aggregate, the Spark analogue of per-row extractValues
        (multi-ts: the effective ts is the COALESCE, exactly the
        first-non-null extractOffsetTimestamp walk,
        ``TimestampIncrementingCriteria.java:218-226``) — and return the
        ``(ts, inc) <= offset`` bound.

        Timestamp-only offsets are NOT a total order: rows can share
        the boundary ts, and the next poll's predicate is strictly
        ``ts > last``, so the bound keeps ALL rows at the boundary ts
        (the batch may exceed ``batch_max_rows`` by the boundary group
        size).  The reference never loses these because it chunks one
        open ResultSet."""
        crit = self.criteria
        cols = crit.order_exprs()
        tail = page.agg(F.max(F.struct(*cols))).collect()[0][0]
        if crit.ts_cols:
            self.offset["timestamp"] = tail[0].isoformat()
        if self.inc_col:
            self.offset["incrementing"] = tail[-1]
        bound = cols[-1] <= F.lit(tail[-1])
        if len(cols) == 2:  # lexicographic (ts, inc) <= (tail ts, tail inc)
            ts, tail_ts = cols[0], F.lit(tail[0])
            bound = (ts < tail_ts) | ((ts == tail_ts) & bound)
        return bound

    def poll_all(self, df: DataFrame, max_polls: int = 10_000):
        """Drain the table: yield batches until exhausted — the
        poll-loop shape of ``JdbcSourceTask.poll`` without the sleep."""
        for _ in range(max_polls):
            batch = self.poll(df)
            if self.mode == "bulk":
                if batch.limit(1).count() > 0:
                    yield batch
                return
            # poll() already counted the remaining matches — re-counting
            # the batch here re-evaluated its sort+limit once per page
            # (r6: one fewer job per page)
            if self._last_poll_rows == 0:
                return
            yield batch
