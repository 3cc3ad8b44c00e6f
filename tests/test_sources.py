"""Tests for the batch polling source (S1/S2/S4/S5) and record
validation (A9)."""

import datetime

import pytest
from pyspark.sql import functions as F

from kafka_connect_jdbc_flatten_spark.operators.validate import (
    expect_valid,
    split_valid,
)
from kafka_connect_jdbc_flatten_spark.sources.changelog import (
    CHANGELOG_SCHEMA,
)
from kafka_connect_jdbc_flatten_spark.sources.poller import TablePoller

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


def test_poller_drains_in_order_without_dup_or_skip(spark, events):
    total = events.count()
    poller = TablePoller(
        mode="timestamp+incrementing", ts_col="ts", inc_col="event_id",
        batch_max_rows=137,
    )
    seen = []
    for batch in poller.poll_all(events):
        rows = batch.select("ts", "event_id").collect()
        seen.extend((r.ts, r.event_id) for r in rows)
    assert len(seen) == total == len(set(seen))  # no skip, no dup
    assert seen == sorted(seen)  # total (ts, inc) order across polls


def test_poller_resumes_from_serialized_offset(spark, events):
    p1 = TablePoller(mode="timestamp+incrementing", ts_col="ts",
                     inc_col="event_id", batch_max_rows=100)
    first = p1.poll(events).collect()
    # "restart": new poller from the persisted offset map
    p2 = TablePoller(mode="timestamp+incrementing", ts_col="ts",
                     inc_col="event_id", batch_max_rows=100,
                     offset=dict(p1.offset))
    second = p2.poll(events).collect()
    ids1 = {r.event_id for r in first}
    ids2 = {r.event_id for r in second}
    assert ids1 and ids2 and not (ids1 & ids2)


def test_poller_incrementing_only_and_bulk(spark, events):
    inc = TablePoller(mode="incrementing", inc_col="event_id", batch_max_rows=10**6)
    b = inc.poll(events)
    assert b.count() == events.count()
    assert inc.offset["incrementing"] == events.agg(F.max("event_id")).collect()[0][0]
    assert inc.poll(events).count() == 0  # drained

    bulk = TablePoller(mode="bulk")
    assert bulk.poll(events).count() == events.count()
    assert bulk.poll(events).count() == events.count()  # re-reads everything


def test_poller_timestamp_delay_holds_back_recent_rows(spark, events):
    mx = events.agg(F.max("ts")).collect()[0][0]
    p = TablePoller(mode="timestamp", ts_col="ts", batch_max_rows=10**6,
                    timestamp_delay_ms=1)
    held = p.poll(events, end_ts=mx)
    # end bound is exclusive and pulled back by the delay: max-ts rows wait
    assert held.filter(F.col("ts") >= mx).count() == 0


TS = datetime.datetime(2024, 1, 1)


def _chg(spark, rows):
    # a malformed upstream feed may deliver null keys — relax the
    # contract schema so the validator (not createDataFrame) catches it
    from pyspark.sql import types as T

    relaxed = T.StructType(
        [
            T.StructField(f.name, f.dataType, True)
            for f in CHANGELOG_SCHEMA.fields
        ]
    )
    return spark.createDataFrame(rows, relaxed)


def test_validation_splits_and_raises(spark):
    ok = ("t", 0, 1, TS, "CreateTime", ("c1",), None,
          ("c1", [(0, "u", "x", "", TS)]), "c", 1, TS)
    bad_tomb = ("t", 0, 2, TS, "CreateTime", None, None, None, "d", 2, TS)
    df = _chg(spark, [ok, bad_tomb])
    valid, bad = split_valid(df, delete_enabled=True)
    assert valid.count() == 1 and bad.count() == 1
    assert "null key" in bad.collect()[0]["__violation"]
    with pytest.raises(ValueError, match="invalid records"):
        expect_valid(df, delete_enabled=True)
    # with deletes disabled, a tombstone with a key is also invalid
    tomb = ("t", 0, 3, TS, "CreateTime", ("c2",), None, None, "d", 3, TS)
    _, bad2 = split_valid(_chg(spark, [ok, tomb]), delete_enabled=False)
    assert bad2.count() == 1


def test_poller_timestamp_mode_never_skips_boundary_ts_rows(spark):
    """Timestamp-only offsets are not a total order: rows sharing the
    boundary ts cut off by the LIMIT were skipped forever by the old
    ``ts > last`` predicate (ADVICE r01).  The batch now extends to all
    rows at the boundary timestamp."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0),
        (2, t0 + datetime.timedelta(hours=1)),
        (3, t0 + datetime.timedelta(hours=1)),
        (4, t0 + datetime.timedelta(hours=1)),
        (5, t0 + datetime.timedelta(hours=2)),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    p = TablePoller(mode="timestamp", ts_col="ts", batch_max_rows=2)
    seen = []
    for batch in p.poll_all(df):
        seen.extend(r.id for r in batch.collect())
    # first poll: LIMIT 2 would truncate the hour-1 trio — extended to
    # include all 3 equal-ts rows; nothing skipped, nothing duplicated
    assert sorted(seen) == [1, 2, 3, 4, 5]
    assert len(seen) == len(set(seen))


@pytest.mark.parametrize(
    "mode,page",
    [("timestamp+incrementing", 10), ("timestamp+incrementing", 4),
     ("incrementing", 10), ("timestamp", 4)],
)
def test_poller_batch_excludes_rows_appended_after_poll(spark, tmp_path, mode, page):
    """A batch ends at the offset its poll advanced to: rows the source
    gains after poll() returns, but before the batch is consumed, are
    not in it, and the next poll returns them exactly once.  The source
    re-reads a file on every evaluation, like a live table."""
    import json

    src = str(tmp_path / "src.jsonl")
    t0 = datetime.datetime(2024, 1, 1)

    def append(ids):
        with open(src, "a") as f:
            f.writelines(json.dumps(i) + "\n" for i in ids)

    def rows(_):
        with open(src) as f:
            return [(i, t0 + datetime.timedelta(minutes=i)) for i in map(json.loads, f)]

    df = spark.createDataFrame(
        spark.sparkContext.parallelize([0], 1).flatMap(rows), "id long, ts timestamp"
    )
    append(range(6))
    p = TablePoller(mode=mode, ts_col="ts", inc_col="id", batch_max_rows=page)
    batch = p.poll(df)
    append(range(6, 9))
    got = [r.id for r in batch.collect()]
    assert got == list(range(min(page, 6)))
    rest = [r.id for b in p.poll_all(df) for r in b.collect()]
    assert rest == list(range(len(got), 9))


def test_poller_delay_guard_active_without_end_ts(spark, events):
    """timestamp_delay_ms must bound by current time even when the
    caller passes no end_ts (the reference always bounds by
    now - delay, TimestampIncrementingTableQuerier.java:208-214)."""
    ten_years_ms = 10 * 365 * 24 * 3600 * 1000
    p = TablePoller(
        mode="timestamp", ts_col="ts", batch_max_rows=10**6,
        timestamp_delay_ms=ten_years_ms,
    )
    # testdata timestamps are in 2024; now - 10y < 2024 ⇒ all held back
    assert p.poll(events).count() == 0
    assert "timestamp" not in p.offset  # offset must not advance


def test_poller_timestamp_initial_seeds_first_poll(spark, events):
    """timestamp.initial seeding (JdbcSourceTask.java:280-309): a
    seeded initial offset starts the tail past that instant; 'current'
    skips all history."""
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid_dt = lo + (hi - lo) / 2
    p = TablePoller(
        mode="timestamp", ts_col="ts", batch_max_rows=10**6,
        timestamp_initial=mid_dt,
    )
    got = p.poll(events)
    expect = events.filter(F.col("ts") > F.lit(mid_dt)).count()
    assert got.count() == expect > 0

    cur = TablePoller(
        mode="timestamp", ts_col="ts", batch_max_rows=10**6,
        timestamp_initial="current",
    )
    assert cur.poll(events).count() == 0  # history skipped


def test_table_monitor_discovers_and_drops(spark, tmp_path):
    """S7 table discovery (TableMonitorThread.java): catalog polling
    reports added/dropped tables; whitelist/blacklist filter; the diff
    is the reconfiguration trigger."""
    import shutil as _sh

    import pytest as _pytest
    from pyspark.sql import types as T

    from kafka_connect_jdbc_flatten_spark.lake.table import LakeTable
    from kafka_connect_jdbc_flatten_spark.sources.monitor import TableMonitor

    wh = str(tmp_path / "wh")
    schema = T.StructType([T.StructField("id", T.LongType(), False)])
    LakeTable.create(spark, f"{wh}/alpha", schema, ["id"])
    mon = TableMonitor(wh)
    assert mon.changed()
    first = mon.poll()
    assert first["added"] == ["alpha"] and not first["dropped"]
    assert not mon.changed()

    LakeTable.create(spark, f"{wh}/beta", schema, ["id"])
    assert mon.changed()
    assert mon.poll()["added"] == ["beta"]

    _sh.rmtree(f"{wh}/alpha")
    assert mon.poll()["dropped"] == ["alpha"]

    # filters + mutual exclusion
    LakeTable.create(spark, f"{wh}/gamma", schema, ["id"])
    assert TableMonitor(wh, whitelist=frozenset(["beta"])).list_tables() == ["beta"]
    assert TableMonitor(wh, blacklist=frozenset(["beta"])).list_tables() == ["gamma"]
    with _pytest.raises(ValueError):
        TableMonitor(wh, whitelist=frozenset(["a"]), blacklist=frozenset(["b"]))


def test_query_mode_polls_a_derived_dataframe(spark, events):
    """``query``-mode parity (JdbcSourceConnectorConfig.java:229): the
    reference can poll a custom SELECT instead of a table.  Here any
    DataFrame IS the polled object, so query mode = polling a derived
    relation — a projection + join — with the same incremental
    criteria, offsets, and drain guarantees as a plain table."""
    users = events.select(
        (F.col("event_id") % 7).alias("uid")
    ).distinct().withColumn("tier", F.concat(F.lit("t"), F.col("uid") % 3))
    derived = (
        events.withColumn("uid", F.col("event_id") % 7)
        .join(users, "uid")
        .select("event_id", "ts", "event_type", "tier")
    )
    total = derived.count()
    poller = TablePoller(
        mode="timestamp+incrementing", ts_col="ts", inc_col="event_id",
        batch_max_rows=211,
    )
    seen = []
    for batch in poller.poll_all(derived):
        seen.extend(
            (r.ts, r.event_id, r.tier) for r in batch.collect()
        )
    assert len(seen) == total == len({(t, e) for t, e, _ in seen})
    assert [s[:2] for s in seen] == sorted(s[:2] for s in seen)
    # offset resumes mid-query exactly like a table: a new poller from
    # the serialized offset sees only the remainder
    p1 = TablePoller(
        mode="timestamp+incrementing", ts_col="ts", inc_col="event_id",
        batch_max_rows=500,
    )
    first = p1.poll(derived)
    n1 = first.count()
    p2 = TablePoller(
        mode="timestamp+incrementing", ts_col="ts", inc_col="event_id",
        batch_max_rows=total + 1, offset=dict(p1.offset),
    )
    assert p2.poll(derived).count() == total - n1


@pytest.fixture()
def two_ts(spark, events):
    """A two-timestamp-column CDC shape: nullable ``updated_at``
    beside non-null ``created_at`` — updated_at set (always LATER than
    created_at, like a real UPDATE) on every third row."""
    return events.select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0,
            F.col("ts") + F.expr("INTERVAL 1 HOUR"),
        ).alias("updated_at"),
        F.col("ts").alias("created_at"),
    ).cache()


def test_poller_multi_ts_coalesce_drains_in_order(spark, two_ts):
    """Multi-ts mode: COALESCE(updated_at, created_at) drives the
    predicate, order, and offset — no skip, no dup, total order
    (TimestampIncrementingCriteria.java:283-293)."""
    total = two_ts.count()
    poller = TablePoller(
        mode="timestamp+incrementing",
        ts_col=["updated_at", "created_at"],
        inc_col="event_id",
        batch_max_rows=149,
    )
    seen = []
    for batch in poller.poll_all(two_ts):
        rows = batch.select(
            F.coalesce("updated_at", "created_at").alias("eff"), "event_id"
        ).collect()
        seen.extend((r.eff, r.event_id) for r in rows)
    assert len(seen) == total == len(set(seen))
    assert seen == sorted(seen)


def test_poller_multi_ts_resume_with_nulls_in_first_column(spark, two_ts):
    """Restart from a persisted offset mid-stream: rows whose FIRST ts
    column is null (COALESCE falls through to created_at) are neither
    re-emitted nor skipped."""
    p1 = TablePoller(
        mode="timestamp+incrementing",
        ts_col=["updated_at", "created_at"],
        inc_col="event_id",
        batch_max_rows=200,
    )
    first = {r.event_id for r in p1.poll(two_ts).collect()}
    p2 = TablePoller(
        mode="timestamp+incrementing",
        ts_col=["updated_at", "created_at"],
        inc_col="event_id",
        batch_max_rows=10**6,
        offset=dict(p1.offset),
    )
    rest = {r.event_id for r in p2.poll(two_ts).collect()}
    assert first and rest and not (first & rest)
    assert first | rest == {r.event_id for r in two_ts.collect()}


def test_validate_non_null_rejects_null_offset_columns(spark, two_ts):
    """validate.non.null (default on): a null effective timestamp or a
    null incrementing value fails the first poll with remediation
    guidance; validate_non_null=False documents the skip semantics
    (JdbcSourceConnectorConfig.java:247-253)."""
    # updated_at alone is nullable -> COALESCE over BOTH columns is
    # fine, but configuring ONLY updated_at must raise
    bad = TablePoller(mode="timestamp", ts_col="updated_at")
    with pytest.raises(ValueError, match="skipped forever"):
        bad.poll(two_ts)
    ok = TablePoller(mode="timestamp", ts_col=["updated_at", "created_at"])
    assert ok.poll(two_ts).count() > 0  # passes the check

    # null incrementing column
    with_null_inc = two_ts.withColumn(
        "inc2", F.when(F.col("event_id") % 5 != 0, F.col("event_id"))
    )
    bad_inc = TablePoller(mode="incrementing", inc_col="inc2")
    with pytest.raises(ValueError, match="incrementing column"):
        bad_inc.poll(with_null_inc)

    # opting out: rows with a null offset are silently invisible
    opt_out = TablePoller(
        mode="incrementing", inc_col="inc2",
        batch_max_rows=10**6, validate_non_null=False,
    )
    got = opt_out.poll(with_null_inc).count()
    visible = with_null_inc.filter(F.col("inc2").isNotNull()).count()
    assert got == visible < with_null_inc.count()
