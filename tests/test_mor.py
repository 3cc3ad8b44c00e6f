"""Merge-on-read lake-table tests: delta segments, reconciliation,
compaction, vacuum, and the multi-table segment writer."""

import datetime
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_jdbc_flatten_spark.lake.table import SEQ_COL, LakeTable

TS = datetime.datetime(2024, 1, 1)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField(SEQ_COL, T.LongType(), True),
    ]
)


def mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def state(t):
    return sorted((r.k, r.v) for r in t.read().collect())


def test_mor_lww_segments_and_compact(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4)
    t.merge(mk(spark, [(1, "a", 1), (2, "b", 1)]), mode="lww", batch_id=0)
    t.merge(mk(spark, [(2, "b2", 2), (3, "c", 2)]), mode="lww", batch_id=1)
    assert len(t.manifest()["segments"]) == 2
    assert state(t) == [(1, "a"), (2, "b2"), (3, "c")]
    # compact folds segments, state unchanged
    t.compact()
    assert t.manifest()["segments"] == []
    assert state(t) == [(1, "a"), (2, "b2"), (3, "c")]
    # vacuum after compact drops the orphaned segment files
    removed = t.vacuum()
    assert removed > 0
    assert state(t) == [(1, "a"), (2, "b2"), (3, "c")]


def test_mor_out_of_order_seq_within_lww(spark, tmp_path):
    # a LATER segment with a LOWER seq must still win? No — lww order
    # is (segment, seq): commit order is the apply order, and within a
    # segment seq decides.  Cross-segment the newest commit wins.
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=2)
    t.merge(mk(spark, [(1, "new", 9)]), mode="lww", batch_id=0)
    t.merge(mk(spark, [(1, "newer", 3)]), mode="lww", batch_id=1)
    assert state(t) == [(1, "newer")]


def test_mor_replace_scope_delete(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4)
    df1 = mk(spark, [(1, "a0", 1), (1, "a1", 1), (2, "b0", 1)]).withColumn(
        "__del", F.lit(False)
    )
    t.merge(df1, mode="replace", scope_keys=["k"], delete_col="__del", batch_id=0)
    # whole-image replacement: key 1 shrinks to ONE row
    df2 = mk(spark, [(1, "a0x", 2)]).withColumn("__del", F.lit(False))
    t.merge(df2, mode="replace", scope_keys=["k"], delete_col="__del", batch_id=1)
    assert state(t) == [(1, "a0x"), (2, "b0")]
    # tombstone marker wipes the scope
    df3 = mk(spark, [(2, None, 3)]).withColumn("__del", F.lit(True))
    t.merge(df3, mode="replace", scope_keys=["k"], delete_col="__del", batch_id=2)
    assert state(t) == [(1, "a0x")]
    t.compact()
    assert state(t) == [(1, "a0x")]


def test_mor_exactly_once(spark, tmp_path):
    import glob

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=2)
    b = mk(spark, [(1, "a", 1)])
    t.merge(b, mode="lww", batch_id=0)
    v = t.manifest()["version"]
    files = glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True)
    assert t.merge(b, mode="lww", batch_id=0)["skipped"]
    assert t.manifest()["version"] == v
    # the redelivery is skipped before the write: no new data files
    assert glob.glob(
        str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True
    ) == files
    assert state(t) == [(1, "a")]


def test_schema_evolution_with_segments(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=2)
    t.merge(mk(spark, [(1, "a", 1)]), mode="lww", batch_id=0)
    evolved = T.StructType(
        list(SCHEMA.fields) + [T.StructField("extra", T.StringType(), True)]
    )
    t.evolve_schema(evolved)
    rows = t.read().collect()
    assert rows[0].extra is None  # old segment files read with nulls
    b2 = spark.createDataFrame([(2, "b", 2, "x")], evolved)
    t.merge(b2, mode="lww", batch_id=1)
    got = {r.k: r.extra for r in t.read().collect()}
    assert got == {1: None, 2: "x"}


def test_union_write_commit_dir_layout(spark, tmp_path):
    """The CdcApplier writes every table's segment in one job.  A
    trickle batch over two tables lands as ONE parquet file per table,
    directly in the table's own data/commit-<id>/ (one id shared by the
    tables), and the manifest lists that file under exactly the
    __bucket values it holds; the warehouse holds no shared commit
    dir."""
    import pyarrow.parquet as pq

    from kafka_connect_jdbc_flatten_spark.lake.table import BUCKET_COL
    from kafka_connect_jdbc_flatten_spark.sources.changelog import CHANGELOG_SCHEMA

    wh = str(tmp_path / "wh")
    ap = _transcript_applier(spark, wh)
    rows = [_envelope(f"c{i}", ["hi", "yo"], "c", i) for i in range(8)]
    stats = ap.apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA), batch_id=0
    )
    assert all(not st["skipped"] for st in stats.values()), stats
    commit_ids = set()
    for name, table in ap.tables.items():
        data = os.path.join(wh, name, "data")
        (commit,) = os.listdir(data)  # no staging dir left behind
        assert commit.startswith("commit-")
        commit_ids.add(commit)
        (parquet,) = [
            os.path.join(data, commit, f)
            for f in os.listdir(os.path.join(data, commit))
            if f.endswith(".parquet")
        ]
        seg_files = table.manifest()["segments"][0]["files"]
        assert all(fl == [parquet] for fl in seg_files.values()), seg_files
        held = set(pq.read_table(parquet, columns=[BUCKET_COL])[BUCKET_COL].to_pylist())
        assert {int(b) for b in seg_files} == held
        assert len(held) > 1, name  # the one file spans several buckets
    assert len(commit_ids) == 1  # ONE write for both tables
    assert sorted(os.listdir(wh)) == sorted(ap.tables)
    assert ap.read("transcripts_conversation").count() == 8
    assert ap.read("transcripts_conversation_turns").count() == 16


def test_bucket_read_of_multi_bucket_segment_file(spark, tmp_path):
    """A segment file holding several buckets is listed under each of
    them; read(buckets=[b]) must return exactly bucket b's reconciled
    rows (the __bucket filter), for every b, over base files and
    segments alike."""
    from kafka_connect_jdbc_flatten_spark.lake.table import BUCKET_COL

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4)
    t.merge(mk(spark, [(i, f"a{i}", 1) for i in range(12)]), mode="lww", batch_id=0)
    t.compact()
    t.merge(mk(spark, [(i, f"b{i}", 2) for i in range(0, 20, 2)]), mode="lww", batch_id=1)
    (seg,) = t.manifest()["segments"]
    files = {f for fl in seg["files"].values() for f in fl}
    assert len(files) == 1 and len(seg["files"]) > 1, seg["files"]
    whole = t.read()
    assert whole.count() == 16  # the file is read once, not once per bucket
    for b in range(4):
        got = sorted(map(tuple, t.read(buckets=[b]).collect()))
        want = sorted(map(tuple, whole.filter(F.col(BUCKET_COL) == b).collect()))
        assert got == want, b


def test_failed_write_removes_staging_dir(spark, tmp_path):
    """A write job that fails at run time (an ANSI cast error in one
    part's rows) leaves no staging dir behind and moves no manifest.
    The parts' ``v`` types differ, so they are two write jobs: the
    first fills the staging dir, the second fails."""
    import glob

    import pytest

    from kafka_connect_jdbc_flatten_spark.lake.table import SegmentPart, write_segments

    long_v = T.StructType(
        [f if f.name != "v" else T.StructField("v", T.LongType(), True) for f in SCHEMA]
    )
    good = LakeTable.create(spark, str(tmp_path / "good"), SCHEMA, ["k"], n_buckets=4)
    bad = LakeTable.create(spark, str(tmp_path / "bad"), long_v, ["k"], n_buckets=4)
    versions = [good._current_version(), bad._current_version()]
    # the last row's key is "x": the cast fails inside the second job
    keys = F.when(F.col("id") == 5, F.lit("x")).otherwise(F.col("id").cast("string"))
    bad_batch = spark.range(6).select(
        keys.cast("long").alias("k"), F.col("id").alias("v"), F.col("id").alias(SEQ_COL)
    )
    parts = [
        SegmentPart(good, good.segment_rows(mk(spark, [(1, "a", 1)]), ["k"]), "lww", ["k"], "w"),
        SegmentPart(bad, bad.segment_rows(bad_batch, ["k"]), "lww", ["k"], "w"),
    ]
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        write_segments(parts, batch_id=0)
    assert not glob.glob(str(tmp_path / "**" / "staging-*"), recursive=True)
    assert [good._current_version(), bad._current_version()] == versions


def test_crash_between_table_commits_heals_on_replay(spark, tmp_path):
    """SURVEY §7 hard part (c): the union write commits each table's
    manifest independently — a crash after table A committed but
    before table B must heal on micro-batch redelivery: A skips
    (batch-id dedup), B applies, final state exact."""
    from kafka_connect_jdbc_flatten_spark.operators.merge import CdcApplier
    from kafka_connect_jdbc_flatten_spark.plans import compile_flatten_plan
    from kafka_connect_jdbc_flatten_spark.sources.changelog import (
        CHANGELOG_SCHEMA,
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config,
    )

    plan = compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config(),
        value_record_name="Conversation",
        key_record_name="ConversationKey",
    )
    ap = CdcApplier(spark, str(tmp_path / "wh"), plan, n_buckets=4)
    batch = spark.createDataFrame(
        [
            (
                "transcripts", 0, 1, TS, "CreateTime", ("c1",), None,
                ("c1", [(0, "u", "hi", "", TS), (1, "a", "yo", "", TS)]),
                "c", 1, TS,
            )
        ],
        CHANGELOG_SCHEMA,
    )
    # crash injection: the turns table's commit raises AFTER the root
    # table's commit succeeded
    turns = ap.tables["transcripts_conversation_turns"]
    orig = turns.commit_segment

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before turns-table commit")

    turns.commit_segment = boom
    try:
        try:
            ap.apply_batch(batch, batch_id=0)
            raise AssertionError("expected simulated crash")
        except RuntimeError:
            pass
        # root committed, turns did not
        assert ap.tables["transcripts_conversation"].last_batch_id(
            "transcripts_conversation"
        ) == 0
        assert turns.last_batch_id("transcripts_conversation_turns") == -1
    finally:
        turns.commit_segment = orig

    # redelivery of the same micro-batch (streaming replay after crash)
    stats = ap.apply_batch(batch, batch_id=0)
    assert stats["transcripts_conversation"]["skipped"]
    assert not stats["transcripts_conversation_turns"]["skipped"]
    assert ap.read("transcripts_conversation").count() == 1
    assert ap.read("transcripts_conversation_turns").count() == 2


def test_maintain_gcs_orphaned_union_segment_files(spark, tmp_path):
    """Compaction must not orphan the segment files of a multi-table
    write (ADVICE r01, when they lived in a shared dir per-table
    vacuum never walked).  Each table now owns its segment files, so
    maintain() = per-table compact + vacuum leaves only base files."""
    import glob

    from kafka_connect_jdbc_flatten_spark.operators.merge import CdcApplier
    from kafka_connect_jdbc_flatten_spark.plans import compile_flatten_plan
    from kafka_connect_jdbc_flatten_spark.sources.changelog import (
        CHANGELOG_SCHEMA,
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config,
    )

    plan = compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config(),
        value_record_name="Conversation",
        key_record_name="ConversationKey",
    )
    wh = str(tmp_path / "wh")
    ap = CdcApplier(spark, wh, plan, n_buckets=4)
    for i in range(3):
        rows = [
            (
                "transcripts", 0, i, TS, "CreateTime", (f"c{i}",), None,
                (f"c{i}", [(0, "u", f"m{i}", "", TS)]), "c", i, TS,
            )
        ]
        ap.apply_batch(spark.createDataFrame(rows, CHANGELOG_SCHEMA), batch_id=i)
    seg_files = {
        f for t in ap.tables.values() for seg in t.manifest()["segments"]
        for fl in seg["files"].values() for f in fl
    }
    assert seg_files and all(os.path.exists(f) for f in seg_files)

    stats = ap.maintain()
    assert stats["compacted"] == 2  # both tables had segments
    # all segment files folded into the base and vacuumed — every
    # parquet file left under a table dir is one of its base files
    assert not any(os.path.exists(f) for f in seg_files)
    for name, t in ap.tables.items():
        on_disk = set(glob.glob(os.path.join(wh, name, "data", "**", "*.parquet"),
                                recursive=True))
        assert on_disk == {f for fl in t.manifest()["files"].values() for f in fl}
    assert ap.read("transcripts_conversation_turns").count() == 3
    # second maintain is a no-op
    assert ap.maintain()["compacted"] == 0
    assert ap.read("transcripts_conversation").count() == 3


def _transcript_applier(spark, wh):
    from kafka_connect_jdbc_flatten_spark.operators.merge import CdcApplier
    from kafka_connect_jdbc_flatten_spark.plans import compile_flatten_plan
    from kafka_connect_jdbc_flatten_spark.sources.changelog import (
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config,
    )

    plan = compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA, TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config(),
        value_record_name="Conversation", key_record_name="ConversationKey",
    )
    return CdcApplier(spark, wh, plan, n_buckets=4)


def _envelope(conv, texts, op, seq):
    value = None if op == "d" else (
        conv, [(i, "u", t, "", TS) for i, t in enumerate(texts)]
    )
    return ("transcripts", 0, seq, TS, "CreateTime", (conv,), None, value, op, seq, TS)


def test_crash_after_files_written_before_any_manifest(spark, tmp_path):
    """Crash point: the writer has written and renamed every table's
    segment files, then the first table's commit raises.  No manifest
    moves; the replay ends in the same tables as a fault-free run, and
    maintain() leaves no unreferenced parquet and no staging dir."""
    import glob

    import pytest

    from kafka_connect_jdbc_flatten_spark.lake.table import _data_files
    from kafka_connect_jdbc_flatten_spark.sources.changelog import CHANGELOG_SCHEMA

    batches = [
        [_envelope("c1", ["a", "b"], "c", 1), _envelope("c2", ["x"], "c", 2)],
        [
            _envelope("c1", ["a2"], "u", 3),
            _envelope("c2", None, "d", 4),
            _envelope("c3", ["y", "z"], "c", 5),
        ],
    ]

    def apply(ap, i):
        return ap.apply_batch(spark.createDataFrame(batches[i], CHANGELOG_SCHEMA), batch_id=i)

    def tables(ap):
        return {n: sorted(map(tuple, ap.read(n).collect())) for n in ap.tables}

    clean = _transcript_applier(spark, str(tmp_path / "clean"))
    apply(clean, 0)
    apply(clean, 1)

    wh = str(tmp_path / "wh")
    ap = _transcript_applier(spark, wh)
    apply(ap, 0)
    versions = {n: t._current_version() for n, t in ap.tables.items()}
    first = ap.tables[ap.plan.tables[0].table_name]

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before the first manifest commit")

    first.commit_segment = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        apply(ap, 1)
    del first.commit_segment
    assert {n: t._current_version() for n, t in ap.tables.items()} == versions
    for n, t in ap.tables.items():
        written = set(glob.glob(os.path.join(wh, n, "data", "**", "*.parquet"),
                                recursive=True))
        assert written - set(_data_files(t.manifest())), n  # files, no manifest

    stats = apply(ap, 1)
    assert all(not st["skipped"] for n, st in stats.items() if n in ap.tables)
    assert tables(ap) == tables(clean)

    ap.maintain()
    assert tables(ap) == tables(clean)
    referenced = {
        os.path.abspath(f) for t in ap.tables.values() for f in _data_files(t.manifest())
    }
    on_disk = {
        os.path.abspath(f)
        for f in glob.glob(os.path.join(wh, "**", "*.parquet"), recursive=True)
    }
    assert on_disk == referenced
    assert not glob.glob(os.path.join(wh, "**", "staging-*"), recursive=True)


def test_vacuum_leaves_no_debris(spark, tmp_path):
    """After merges, compact() and vacuum(), every file under data/ is
    a live parquet file or its .crc sidecar, and every commit dir
    still holds live parquet — superseded files' sidecars, _SUCCESS
    markers and their dirs are gone too."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4)
    data = os.path.abspath(os.path.join(t.path, "data"))

    def assert_clean():
        live = {os.path.abspath(f) for f in sum(t.manifest()["files"].values(), [])}
        for root, _dirs, fs in os.walk(data):
            for f in fs:
                p = os.path.join(root, f)
                sidecar_of = os.path.join(root, f[1:-len(".crc")])
                assert p in live or (f.startswith(".") and sidecar_of in live), p
        for entry in os.listdir(data):
            assert any(p.startswith(os.path.join(data, entry) + os.sep) for p in live), entry

    t.merge(mk(spark, [(i, f"a{i}", 1) for i in range(8)]), mode="lww", batch_id=0)
    t.merge(mk(spark, [(1, "b", 2), (9, "c", 2)]), mode="lww", batch_id=1)
    t.compact()
    assert t.vacuum() > 0
    assert_clean()
    # a bucket-scoped compaction leaves the older base dir partly live
    t.merge(mk(spark, [(2, "d", 3)]), mode="lww", batch_id=2)
    t.compact()
    assert t.vacuum() > 0
    assert_clean()
    assert state(t) == sorted(
        [(i, f"a{i}") for i in range(8) if i not in (1, 2)]
        + [(1, "b"), (2, "d"), (9, "c")]
    )


def test_db_timezone_timestamp_semantics(spark, tmp_path):
    """db.timezone parity (JdbcSinkConfig.java:218-223): the session
    timezone controls TIMESTAMP rendering/parsing but stored instants
    are zone-independent — a table written under one zone reads the
    same instants under another."""
    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.sql(
            "SELECT 1L AS k, timestamp'2024-06-01 12:00:00' AS ts, 1L AS __seq"
        )
        schema = T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("ts", T.TimestampType(), True),
                T.StructField(SEQ_COL, T.LongType(), True),
            ]
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["k"], n_buckets=2)
        t.merge(df, mode="lww", batch_id=0)
        utc_str = t.read().selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ssXXX') s").collect()[0].s

        spark.conf.set("spark.sql.session.timeZone", "Europe/Oslo")
        oslo_str = t.read().selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ssXXX') s").collect()[0].s
        # same instant, different rendering (Oslo is UTC+2 in June)
        assert utc_str == "2024-06-01 12:00:00Z"
        assert oslo_str == "2024-06-01 14:00:00+02:00"
        # string→timestamp parsing binds in the session zone, like the
        # reference's Calendar-based setTimestamp
        parsed = spark.sql(
            "SELECT cast('2024-06-01 14:00:00' AS timestamp) AS p"
        ).collect()[0].p
        stored = t.read().collect()[0].ts
        assert parsed == stored
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_replace_reconcile_delta_broadcast_is_byte_guarded(spark, tmp_path, monkeypatch):
    """replace-mode reconcile: the delta winner map broadcasts only
    while segment bytes stay under the cap; a huge delta (cap forced
    to 0) takes a shuffle join with IDENTICAL results — an unbounded
    backfill must not force a driver-sized broadcast."""
    import kafka_connect_jdbc_flatten_spark.lake.table as LT

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=2)
    t.merge(mk(spark, [(1, "a", 1), (2, "b", 1)]), mode="replace",
            scope_keys=["k"], batch_id=0)
    t.merge(mk(spark, [(2, "b2", 2), (3, "c", 2)]), mode="replace",
            scope_keys=["k"], batch_id=1)
    expect = state(t)
    plan_bcast = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_bcast

    monkeypatch.setattr(LT, "MOR_BROADCAST_DELTA_BYTES", 0)
    assert state(t) == expect
    plan_shuffle = t.read()._jdf.queryExecution().executedPlan().toString()
    # the forced broadcast hint is gone (AQE may still pick a strategy,
    # but the delta-keys join must not be hint-forced)
    assert plan_shuffle != plan_bcast


def test_mor_update_reconcile_preserves_untouched_duplicates(spark, tmp_path):
    """r2 advisory (medium): an update delta must only collapse the
    keys it touches.  Duplicate rows legitimately created under
    insert.mode=insert (append segments compacted into the base) must
    survive an update to a DIFFERENT key; SQL UPDATE never removes
    rows it didn't match."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=2)
    # base with legitimate duplicates for k=1 (insert-mode appends)
    t.merge(mk(spark, [(1, "dup", 1), (1, "dup", 1), (2, "b", 1)]),
            mode="append", batch_id=0)
    t.compact()
    assert state(t) == [(1, "dup"), (1, "dup"), (2, "b")]
    # update delta touches ONLY k=2
    t.merge(mk(spark, [(2, "b2", 2), (9, "ghost", 2)]), mode="update", batch_id=1)
    # k=1 duplicates intact, k=2 updated, k=9 ignored (unknown key)
    assert state(t) == [(1, "dup"), (1, "dup"), (2, "b2")]
    # compact preserves the same state
    t.compact()
    assert state(t) == [(1, "dup"), (1, "dup"), (2, "b2")]
    # an update that DOES touch the duplicated key rewrites EACH
    # matching row with the winning image — SQL UPDATE modifies every
    # matched row, it never collapses multiplicity (r3 advisory)
    t.merge(mk(spark, [(1, "fixed", 3)]), mode="update", batch_id=2)
    assert state(t) == [(1, "fixed"), (1, "fixed"), (2, "b2")]
    t.compact()
    assert state(t) == [(1, "fixed"), (1, "fixed"), (2, "b2")]


def test_overwrite_bootstrap_respects_bucket_layout(spark, tmp_path):
    """r3 review: overwrite() bucketed by key_cols while merges/deletes
    bucket by the recorded layout — a bootstrap overwrite followed by a
    bucket-pruned delete silently missed rows.  With bucket_cols in
    the manifest, overwrite hashes the layout key and mismatched
    rewrite scopes raise instead of corrupting."""
    import pytest
    from pyspark.sql import types as TT

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.LongType(), False),
        T.StructField(SEQ_COL, T.LongType(), True),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["conv_id", "turn_idx"],
        n_buckets=8, bucket_cols=["conv_id"],
    )
    rows = [(f"c{i}", j, 1) for i in range(20) for j in range(2)]
    t.overwrite(spark.createDataFrame(rows, schema), batch_id=0)
    base_files = dict(t.manifest()["files"])
    keys = spark.createDataFrame([("c3",), ("c7",)], "conv_id string")
    # the non-nullable turn_idx is absent from the keys-only markers
    st = t.delete_where_keys(keys, ["conv_id"], batch_id=1)
    assert not st["skipped"], st
    m = t.manifest()
    assert len(m["segments"]) == 1 and m["files"] == base_files
    left = {r.conv_id for r in t.read().collect()}
    assert "c3" not in left and "c7" not in left
    assert len(left) == 18
    t.compact()
    after = t.read().collect()
    assert {r.conv_id for r in after} == left and len(after) == 36
    assert all(r.turn_idx is not None for r in after)
    # a rewrite scoped by a different hash key is refused loudly
    with pytest.raises(ValueError, match="bucket layout"):
        t.delete_where_keys(
            spark.createDataFrame([("c1", 0)], "conv_id string, turn_idx long"),
            ["conv_id", "turn_idx"],
        )


def test_compact_is_bucket_scoped(spark, tmp_path):
    """r3 review: compact() must rewrite ONLY buckets referenced by a
    delta segment — untouched base buckets keep their files (same
    paths, never rewritten).  At 100 TB this is the difference between
    an O(delta) and an O(table) maintenance pass."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=8)
    t.merge(mk(spark, [(i, f"v{i}", 1) for i in range(16)]), mode="lww", batch_id=0)
    t.compact()
    before = dict(t.manifest()["files"])
    assert len(before) > 2  # spread over several buckets
    t.merge(mk(spark, [(1, "v1b", 2)]), mode="lww", batch_id=1)
    touched = {b for seg in t.manifest()["segments"] for b in seg["files"]}
    st = t.compact()
    assert st["touched_buckets"] == len(touched)
    after = t.manifest()["files"]
    assert set(after) == set(before)
    for b, fl in before.items():
        if b in touched:
            assert after[b] != fl
        else:
            assert after[b] == fl  # identical paths ⇒ files untouched
    assert state(t) == sorted(
        (i, "v1b" if i == 1 else f"v{i}") for i in range(16)
    )
    # and the layout guard still rejects a mismatched rewrite scope
    import pytest

    with pytest.raises(ValueError, match="bucket layout"):
        t.merge(mk(spark, [(1, "x", 3)]), mode="lww", scope_keys=["v"], batch_id=2)


def test_legacy_manifest_backfills_bucket_cols(spark, tmp_path):
    """r3 advisory (medium): manifests from before ``bucket_cols``
    existed were physically bucketed by the MERGE scope while
    ``key_cols`` held the row PK — validating those tables against
    key_cols bricked every CDC merge after an upgrade.  The first
    validated rewrite must instead backfill bucket_cols from its scope
    and succeed."""
    import json

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("i", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField(SEQ_COL, T.LongType(), True),
        ]
    )

    def mk2(rows):
        return spark.createDataFrame(rows, schema)

    # child-table shape: row PK (k, i) ⊃ key scope (k); physical layout = scope
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["k", "i"], n_buckets=4,
        bucket_cols=["k"],
    )
    t.merge(mk2([(1, 0, "a", 1), (1, 1, "b", 1)]), mode="replace",
            scope_keys=["k"], batch_id=0)
    # strip bucket_cols in place, like a manifest written by the old code
    v = t._current_version()
    mp = os.path.join(t._manifest_dir, f"v{v}.json")
    with open(mp) as f:
        m = json.load(f)
    del m["bucket_cols"]
    with open(mp, "w") as f:
        json.dump(m, f)
    assert "bucket_cols" not in t.manifest()
    # pre-fix this raised ValueError (scope ["k"] vs key_cols ["k","i"])
    t.merge(mk2([(1, 0, "a2", 2)]), mode="replace", scope_keys=["k"], batch_id=1)
    assert t.manifest()["bucket_cols"] == ["k"]
    assert sorted((r.k, r.i, r.v) for r in t.read().collect()) == [(1, 0, "a2")]
    # subsequent mismatched scopes are rejected against the backfill
    import pytest

    with pytest.raises(ValueError, match="bucket layout"):
        t.delete_where_keys(
            mk2([(1, 0, None, 3)]).select("k", "i"), ["k", "i"], batch_id=2
        )


def test_commit_segment_mixed_mode_keeps_layout_backfill(spark, tmp_path):
    """r4 review: commit_segment's mixed-mode branch compacts and
    RE-READS the manifest, which used to discard the bucket_cols
    backfill the first layout check made on a legacy manifest — the
    committed manifest must still carry the backfilled layout so a
    later writer cannot backfill a DIFFERENT one and bucket-prune
    against the wrong files."""
    import json

    import pytest

    from kafka_connect_jdbc_flatten_spark.lake.table import (
        BUCKET_COL,
        MOR_DELETE_COL,
        write_files,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("i", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField(SEQ_COL, T.LongType(), True),
        ]
    )

    def mk2(rows):
        return spark.createDataFrame(rows, schema)

    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["k", "i"], n_buckets=4,
        bucket_cols=["k"],
    )
    # pending delta segment of a DIFFERENT mode than the next commit
    t.merge(mk2([(1, 0, "a", 1)]), mode="lww", scope_keys=["k"], batch_id=0)
    # strip bucket_cols in place, like a manifest written by old code
    v = t._current_version()
    mp = os.path.join(t._manifest_dir, f"v{v}.json")
    with open(mp) as f:
        m = json.load(f)
    del m["bucket_cols"]
    with open(mp, "w") as f:
        json.dump(m, f)
    # metadata-half commit of a replace segment written by the writer's
    # file half: mixed modes force the compact + manifest re-read
    out = (
        t._align(mk2([(1, 0, "b", 2)]))
        .withColumn(
            BUCKET_COL, F.pmod(F.xxhash64(F.col("k")), F.lit(4)).cast("int")
        )
        .withColumn(MOR_DELETE_COL, F.lit(False))
        .select(*[f.name for f in schema.fields], BUCKET_COL, MOR_DELETE_COL)
    )
    (files,) = write_files([(t, out)])
    st = t.commit_segment(files, mode="replace", scope_keys=["k"], batch_id=1)
    assert not st.get("skipped")
    assert t.manifest()["bucket_cols"] == ["k"]
    assert sorted((r.k, r.i, r.v) for r in t.read().collect()) == [(1, 0, "b")]
    # a later mismatched scope is rejected against the durable backfill
    with pytest.raises(ValueError, match="bucket layout"):
        t.delete_where_keys(
            mk2([(1, 0, None, 3)]).select("k", "i"), ["k", "i"], batch_id=2
        )


def test_delete_where_keys_mor_marker_segment(spark, tmp_path):
    """Tombstone apply commits a marker-only replace segment (O(keys)
    IO) instead of rewriting touched buckets; the result survives
    compaction, and a mismatched-mode segment log is compacted first."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4)
    t.merge(mk(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]),
            mode="replace", scope_keys=["k"], batch_id=0)
    t.compact()
    base_files = dict(t.manifest()["files"])
    keys = spark.createDataFrame([(2,)], "k long")
    st = t.delete_where_keys(keys, ["k"], batch_id=1)
    assert not st["skipped"], st
    m = t.manifest()
    assert len(m["segments"]) == 1 and m["segments"][0]["mode"] == "replace"
    assert m["files"] == base_files  # base untouched — no bucket rewrite
    assert state(t) == [(1, "a"), (3, "c")]
    t.compact()
    assert state(t) == [(1, "a"), (3, "c")]
    # exactly-once on redelivery
    v = t._current_version()
    assert t.delete_where_keys(keys, ["k"], batch_id=1)["skipped"]
    assert t._current_version() == v
    # a mismatched-mode log (lww) auto-compacts before the marker lands
    t.merge(mk(spark, [(4, "d", 2)]), mode="lww", batch_id=2)
    st = t.delete_where_keys(
        spark.createDataFrame([(4,)], "k long"), ["k"], batch_id=3,
    )
    assert not st.get("skipped"), st
    assert state(t) == [(1, "a"), (3, "c")]


def test_foreign_tombstone_fanout_commits_segments_not_rewrites(
    spark, tmp_path
):
    """The warehouse-wide tombstone fan-out must be O(keys) per foreign
    table: the foreign table's manifest gains a marker segment, its
    base files keep their paths."""
    from kafka_connect_jdbc_flatten_spark.operators.merge import CdcApplier
    from kafka_connect_jdbc_flatten_spark.plans import compile_flatten_plan
    from kafka_connect_jdbc_flatten_spark.sources.changelog import (
        CHANGELOG_SCHEMA,
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config,
    )

    plan = compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA, TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config(),
        value_record_name="Conversation", key_record_name="ConversationKey",
    )
    wh = tmp_path / "wh"
    ap = CdcApplier(spark, str(wh), plan, n_buckets=4)
    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("x", T.StringType(), True),
        T.StructField(SEQ_COL, T.LongType(), True),
    ])
    foreign = LakeTable.create(
        spark, str(wh / "transcripts_conversation_x"), schema,
        ["conv_id"], n_buckets=4, properties={"topic": "transcripts"},
    )
    foreign.merge(
        spark.createDataFrame([("c1", "p", 1), ("c2", "q", 1)], schema),
        mode="replace", scope_keys=["conv_id"], batch_id=0,
    )
    foreign.compact()
    base_files = dict(foreign.manifest()["files"])

    rows = [
        (
            "transcripts", 0, 1, TS, "CreateTime", ("c1",), None,
            None, "d", 1, TS,
        )
    ]
    ap.apply_batch(spark.createDataFrame(rows, CHANGELOG_SCHEMA), batch_id=0)
    m = foreign.manifest()
    assert len(m["segments"]) == 1 and m["segments"][0]["mode"] == "replace"
    assert m["files"] == base_files
    assert {r.conv_id for r in foreign.read().collect()} == {"c2"}


def test_racing_writers_one_wins_one_raises(spark, tmp_path):
    """Two handles commit from the same base version.  Writer B passes
    every pre-check, then writer A publishes that version first: B's
    publish must raise instead of replacing A's snapshot, and a retry
    of B lands on top of A."""
    import glob

    import pytest

    from kafka_connect_jdbc_flatten_spark.lake.table import ConcurrentCommitError

    path = str(tmp_path / "t")
    a = LakeTable.create(spark, path, SCHEMA, ["k"], n_buckets=2)
    b = LakeTable(spark, path)
    base = a._current_version()
    publish = b._write_manifest

    def a_wins_first(manifest):
        a.merge(mk(spark, [(1, "a", 1)]), mode="lww", batch_id=0, writer_id="a")
        publish(manifest)

    b._write_manifest = a_wins_first
    with pytest.raises(ConcurrentCommitError):
        b.merge(mk(spark, [(2, "b", 1)]), mode="lww", batch_id=0, writer_id="b")
    b._write_manifest = publish
    # A's snapshot survived intact; B's batch was not recorded
    assert a._current_version() == base + 1
    assert a.manifest()["last_committed_batch_id"] == {"a": 0}
    assert state(a) == [(1, "a")]
    # B's redelivery commits on top of A: no snapshot lost
    st = b.merge(mk(spark, [(2, "b", 1)]), mode="lww", batch_id=0, writer_id="b")
    assert st["version"] == base + 2
    assert state(a) == [(1, "a"), (2, "b")]
    assert not glob.glob(os.path.join(a._manifest_dir, "*.tmp.*"))


def test_published_manifest_without_current_move_is_committed(spark, tmp_path):
    """A crash after ``v{N+1}.json`` is published but before CURRENT
    moves: the published version is committed — it is read, and the
    next commit lands as N+2 instead of wedging on the taken name."""
    import glob

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=2)
    t.merge(mk(spark, [(1, "a", 1)]), mode="lww", batch_id=0)
    n = t._current_version()
    t.merge(mk(spark, [(2, "b", 2)]), mode="lww", batch_id=1)
    # roll CURRENT back to N, as if the writer died before moving it
    with open(os.path.join(t._manifest_dir, "CURRENT"), "w") as f:
        f.write(str(n))
    fresh = LakeTable(spark, t.path)
    assert fresh._current_version() == n + 1
    assert fresh.last_batch_id("default") == 1
    assert state(fresh) == [(1, "a"), (2, "b")]
    st = fresh.merge(mk(spark, [(3, "c", 3)]), mode="lww", batch_id=2)
    assert st["version"] == n + 2
    assert state(fresh) == [(1, "a"), (2, "b"), (3, "c")]
    assert not glob.glob(os.path.join(t._manifest_dir, "*.tmp.*"))


def test_commit_stress_loses_no_update(tmp_path):
    """More committing threads than cores, each a read-modify-write of
    the manifest retried on ``ConcurrentCommitError``: every commit of
    every writer must survive in the final snapshot."""
    import sys
    import threading

    from kafka_connect_jdbc_flatten_spark.lake.table import ConcurrentCommitError

    t = LakeTable.create(None, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=2)
    n_writers, n_commits = 8, 5
    errors = []

    def writer(i):
        try:
            for b in range(n_commits):
                while True:
                    base = t._current_version()
                    m = t.manifest(base)
                    m["last_committed_batch_id"][f"w{i}"] = b
                    try:
                        t._commit(base, m)
                        break
                    except ConcurrentCommitError:
                        continue
        except Exception as e:  # noqa: BLE001 — surfaced by the assert
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    m = t.manifest()
    assert m["version"] == n_writers * n_commits
    assert m["last_committed_batch_id"] == {
        f"w{i}": n_commits - 1 for i in range(n_writers)
    }
