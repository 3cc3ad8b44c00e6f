"""CDC apply tests: whole-image upsert replacement, tombstones,
idempotent re-apply (exactly-once), schema evolution.

Golden behavior ports:
- upsert replay leaves exactly 1 row per key in every table incl.
  shrunk child arrays (JdbcSinkTaskTestPostgresArray.java:1708-1874)
- tombstone wipes the key from all topic tables
  (JdbcSinkTaskTestPostgresArrayDelete.java:82-251)
"""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_jdbc_flatten_spark.operators.merge import CdcApplier
from kafka_connect_jdbc_flatten_spark.plans import compile_flatten_plan
from kafka_connect_jdbc_flatten_spark.sources.changelog import (
    CHANGELOG_SCHEMA,
    TRANSCRIPT_KEY_SCHEMA,
    TRANSCRIPT_VALUE_SCHEMA,
    transcript_flatten_config,
)

TS = datetime.datetime(2024, 1, 1)


def env(conv, turns, op, seq, before=None):
    """Build one changelog row (python tuple form)."""
    val = None if op == "d" else (conv, [(i, r, t, tool, TS) for (i, r, t, tool) in turns])
    bef = None if before is None else (conv, [(i, r, t, tool, TS) for (i, r, t, tool) in before])
    return (
        "transcripts", 0, seq, TS, "CreateTime", (conv,), bef, val, op, seq, TS,
    )


@pytest.fixture()
def plan():
    cfg = transcript_flatten_config()
    return compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        cfg,
        value_record_name="Conversation",
        key_record_name="ConversationKey",
    )


def mkdf(spark, rows):
    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


def test_plan_shape(plan):
    names = sorted(t.table_name for t in plan.tables)
    assert names == ["transcripts_conversation", "transcripts_conversation_turns"]
    turns = next(t for t in plan.tables if t.table_name.endswith("_turns"))
    assert [c.out_name for c in turns.columns] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    assert turns.merge_keys == ("conv_id", "turn_idx")
    assert turns.key_merge_keys == ("conv_id",)


def test_upsert_whole_image_replacement(spark, plan, tmp_path):
    ap = CdcApplier(spark, str(tmp_path / "wh"), plan, n_buckets=4)
    # image 1: 3 turns; image 2: 1 turn (shrunk); image 3: 2 turns
    b1 = mkdf(spark, [env("c1", [(0, "user", "hi", ""), (1, "assistant", "hello", ""), (2, "user", "bye", "")], "c", 1)])
    ap.apply_batch(b1, batch_id=0)
    assert ap.read("transcripts_conversation_turns").count() == 3
    b2 = mkdf(spark, [env("c1", [(0, "user", "hi2", "")], "u", 2)])
    ap.apply_batch(b2, batch_id=1)
    turns = ap.read("transcripts_conversation_turns").collect()
    assert len(turns) == 1  # shrunk child array fully replaced
    assert turns[0].text == "hi2"
    assert ap.read("transcripts_conversation").count() == 1
    b3 = mkdf(spark, [env("c1", [(0, "user", "hi3", ""), (1, "assistant", "yo", "t")], "u", 3)])
    ap.apply_batch(b3, batch_id=2)
    rows = {r.turn_idx: r for r in ap.read("transcripts_conversation_turns").collect()}
    assert len(rows) == 2 and rows[1].tool == "t"


def test_lww_within_batch(spark, plan, tmp_path):
    ap = CdcApplier(spark, str(tmp_path / "wh"), plan, n_buckets=4)
    batch = mkdf(
        spark,
        [
            env("c1", [(0, "user", "old", "")], "c", 1),
            env("c1", [(0, "user", "new", ""), (1, "assistant", "r", "")], "u", 2),
            env("c2", [(0, "user", "x", "")], "c", 3),
        ],
    )
    ap.apply_batch(batch, batch_id=0)
    turns = ap.read("transcripts_conversation_turns")
    assert turns.count() == 3
    assert turns.filter("conv_id = 'c1' and turn_idx = 0").collect()[0].text == "new"


def test_tombstone_wipes_all_tables(spark, plan, tmp_path):
    ap = CdcApplier(spark, str(tmp_path / "wh"), plan, n_buckets=4)
    ap.apply_batch(
        mkdf(spark, [env("c1", [(0, "u", "a", "")], "c", 1), env("c2", [(0, "u", "b", "")], "c", 2)]),
        batch_id=0,
    )
    ap.apply_batch(mkdf(spark, [env("c1", None, "d", 3)]), batch_id=1)
    for t in ("transcripts_conversation", "transcripts_conversation_turns"):
        rows = ap.read(t).collect()
        assert {r.conv_id for r in rows} == {"c2"}, t


def test_insert_and_delete_same_batch(spark, plan, tmp_path):
    # delete wins when it is the latest op for the key
    ap = CdcApplier(spark, str(tmp_path / "wh"), plan, n_buckets=4)
    batch = mkdf(
        spark,
        [env("c1", [(0, "u", "a", "")], "c", 1), env("c1", None, "d", 2)],
    )
    ap.apply_batch(batch, batch_id=0)
    assert ap.read("transcripts_conversation_turns").count() == 0
    # and the reverse order: insert after delete
    batch2 = mkdf(
        spark,
        [env("c2", None, "d", 3), env("c2", [(0, "u", "z", "")], "c", 4)],
    )
    ap.apply_batch(batch2, batch_id=1)
    assert ap.read("transcripts_conversation_turns").count() == 1


def test_exactly_once_batch_replay(spark, plan, tmp_path):
    ap = CdcApplier(spark, str(tmp_path / "wh"), plan, n_buckets=4)
    b = mkdf(spark, [env("c1", [(0, "u", "a", "")], "c", 1)])
    ap.apply_batch(b, batch_id=0)
    v1 = ap.tables["transcripts_conversation_turns"].manifest()["version"]
    stats = ap.apply_batch(b, batch_id=0)  # re-delivery after crash
    assert stats["transcripts_conversation_turns"]["skipped"]
    v2 = ap.tables["transcripts_conversation_turns"].manifest()["version"]
    assert v1 == v2
    assert ap.read("transcripts_conversation_turns").count() == 1


def test_idempotent_same_content_reapply(spark, plan, tmp_path):
    # even WITHOUT batch-id dedup, replace-merge of identical content
    # converges to the same state (idempotent apply)
    ap = CdcApplier(spark, str(tmp_path / "wh"), plan, n_buckets=4)
    b = mkdf(spark, [env("c1", [(0, "u", "a", ""), (1, "a", "b", "")], "c", 1)])
    ap.apply_batch(b, batch_id=0)
    before = sorted(map(tuple, ap.read("transcripts_conversation_turns").collect()))
    ap.apply_batch(b, batch_id=1)  # different batch id, same content
    after = sorted(map(tuple, ap.read("transcripts_conversation_turns").collect()))
    assert before == after


def test_schema_evolution_additive(spark, plan, tmp_path):
    from kafka_connect_jdbc_flatten_spark.lake.table import (
        LakeTable,
        SchemaEvolutionError,
    )

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        T.StructType([T.StructField("id", T.LongType(), False)]),
        ["id"],
        n_buckets=2,
    )
    t.overwrite(spark.range(3))
    added = t.evolve_schema(
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("extra", T.StringType(), True),
            ]
        )
    )
    assert added == ["extra"]
    # old files read with nulls for the new column
    rows = t.read().orderBy("id").collect()
    assert [r.extra for r in rows] == [None, None, None]
    with pytest.raises(SchemaEvolutionError):
        t.evolve_schema(
            T.StructType([T.StructField("req", T.StringType(), False)])
        )


def test_redelivered_duplicate_collapses_to_one_row(spark, plan, tmp_path):
    """At-least-once redelivery inside ONE micro-batch: an exact
    duplicate envelope (same key, same seq, same image) must collapse
    to a single row — ties on (key, seq) pass the broadcast-winner
    semi join and are deduped after (ADVICE r01)."""
    ap = CdcApplier(spark, str(tmp_path / "wh"), plan, n_buckets=4)
    row = env("c1", [(0, "u", "hi", "t")], "c", 1)
    ap.apply_batch(mkdf(spark, [row, row]), batch_id=0)
    assert ap.read("transcripts_conversation_turns").count() == 1
    assert ap.read("transcripts_conversation").count() == 1


def test_lww_broadcast_collapses_exact_duplicates(spark):
    from kafka_connect_jdbc_flatten_spark.operators.lww import (
        lww_reduce_broadcast,
    )

    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 5, "a"), (1, 3, "old"), (2, 1, "b")],
        "key long, seq long, v string",
    )
    out = lww_reduce_broadcast(df, ["key"], ["seq"]).collect()
    assert sorted((r.key, r.seq, r.v) for r in out) == [(1, 5, "a"), (2, 1, "b")]


def test_lww_auto_cardinality_guard(spark):
    """lww_reduce_auto: broadcast form under the key threshold, max_by
    aggregate fallback above it — identical results either way."""
    from kafka_connect_jdbc_flatten_spark.operators.lww import (
        lww_reduce,
        lww_reduce_auto,
    )

    df = spark.range(50_000).select(
        (F.col("id") % 10_000).alias("key"),
        F.col("id").alias("seq"),
        (F.col("id") * 2).alias("payload"),
    )
    expect = sorted(lww_reduce(df, ["key"], ["seq"]).collect())
    # guard = batch row count (strict upper bound on distinct keys)
    bcast, n1 = lww_reduce_auto(df, ["key"], ["seq"], max_broadcast_keys=100_000)
    fallb, n2 = lww_reduce_auto(df, ["key"], ["seq"], max_broadcast_keys=100)
    # rows exceed the cap but TRUE key cardinality (10k, via the HLL
    # probe) stays under it: the broadcast form must be kept — a CDC
    # batch with many events per key must not pay the wide shuffle
    probed, n3 = lww_reduce_auto(df, ["key"], ["seq"], max_broadcast_keys=20_000)
    assert n1 == n2 == n3 == 50_000
    assert sorted(bcast.collect()) == expect
    assert sorted(fallb.collect()) == expect
    assert sorted(probed.collect()) == expect
    bcast.unpersist()
    fallb.unpersist()
    probed.unpersist()


def test_mixed_type_plans_route_to_per_table_merge(spark, tmp_path):
    """Two target tables sharing a column NAME with different TYPES
    (int vs long) must be written by separate jobs: unionByName
    would silently widen the int column and durably commit parquet a
    later explicit-schema read() cannot open (ADVICE r01)."""
    from kafka_connect_jdbc_flatten_spark.config import FlattenConfig

    value_schema = T.StructType(
        [
            T.StructField("x", T.LongType(), True),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("x", T.IntegerType(), True),
                            T.StructField("item_id", T.LongType(), True),
                        ]
                    ),
                    True,
                ),
                True,
            ),
        ]
    )
    key_schema = T.StructType([T.StructField("rid", T.LongType(), False)])
    cfg = FlattenConfig(
        topic="m", pk_mode="flatten", delete_enabled=True, pk_fields=("rkey.rid",)
    )
    mixed_plan = compile_flatten_plan(
        key_schema, value_schema, cfg, value_record_name="RV", key_record_name="RKey"
    )
    ch_schema = T.StructType(
        [
            T.StructField("topic", T.StringType(), False),
            T.StructField("partition", T.IntegerType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("timestamp", T.TimestampType(), True),
            T.StructField("timestamp_type", T.StringType(), True),
            T.StructField("key", key_schema, False),
            T.StructField("before", value_schema, True),
            T.StructField("value", value_schema, True),
            T.StructField("op", T.StringType(), False),
            T.StructField("seq", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    wh = str(tmp_path / "wh")
    ap = CdcApplier(spark, wh, mixed_plan, n_buckets=2)
    batch = spark.createDataFrame(
        [("m", 0, 1, TS, "CreateTime", (1,), None, (10, [(7, 100)]), "c", 1, TS)],
        ch_schema,
    )
    ap.apply_batch(batch, batch_id=0)
    root = ap.read("m_rv")
    items = ap.read("m_rv_items")
    # declared types survive the commit and the read
    assert root.schema["x"].dataType == T.LongType()
    assert items.schema["x"].dataType == T.IntegerType()
    assert [(r.rkey_rid, r.x) for r in root.collect()] == [(1, 10)]
    assert [(r.rkey_rid, r.x, r.item_id) for r in items.collect()] == [(1, 7, 100)]


@pytest.mark.parametrize("insert_mode", ["upsert", "insert", "update"])
def test_apply_batch_jobs_carry_the_callers_job_group(spark, tmp_path, insert_mode):
    """Every Spark job apply_batch starts runs on the calling thread, so
    a job group set there (how traces attribute jobs to phases) covers
    all of them: none is left without a group."""
    import dataclasses

    cfg = dataclasses.replace(transcript_flatten_config(), insert_mode=insert_mode)
    mplan = compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA, TRANSCRIPT_VALUE_SCHEMA, cfg,
        value_record_name="Conversation", key_record_name="ConversationKey",
    )
    ap = CdcApplier(spark, str(tmp_path / "wh"), mplan, n_buckets=4)
    batch = mkdf(spark, [
        env("c1", [(0, "u", "hi", "t"), (1, "a", "yo", "t")], "c", 1),
        env("c2", [(0, "u", "x", "t")], "c", 2),
        env("c2", None, "d", 3),
    ])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"apply-{insert_mode}"
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "apply_batch job attribution")
    try:
        ap.apply_batch(batch, batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_insert_mode_appends_duplicates_and_ignores_tombstones(spark, plan, tmp_path):
    """insert.mode=insert (JdbcSinkConfig.java:133-139): every record
    appended, duplicate keys accumulate, no LWW collapse; tombstones
    are ignored."""
    import dataclasses

    from kafka_connect_jdbc_flatten_spark.sources.changelog import (
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config,
    )

    cfg = dataclasses.replace(
        transcript_flatten_config(), insert_mode="insert", delete_enabled=True
    )
    iplan = compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA, TRANSCRIPT_VALUE_SCHEMA, cfg,
        value_record_name="Conversation", key_record_name="ConversationKey",
    )
    ap = CdcApplier(spark, str(tmp_path / "wh"), iplan, n_buckets=4)
    rows = [
        env("c1", [(0, "u", "hi", "t")], "c", 1),
        env("c1", [(0, "u", "hi", "t"), (1, "a", "yo", "t")], "u", 2),
        env("c1", None, "d", 3),  # tombstone ignored in insert mode
    ]
    ap.apply_batch(mkdf(spark, rows), batch_id=0)
    # appended: 1 turn from envelope 1 + 2 turns from envelope 2
    assert ap.read("transcripts_conversation_turns").count() == 3
    assert ap.read("transcripts_conversation").count() == 2
    # second batch keeps appending (no replacement)
    ap.apply_batch(mkdf(spark, [env("c1", [(0, "u", "hi", "t")], "u", 4)]), batch_id=1)
    assert ap.read("transcripts_conversation_turns").count() == 4


def test_update_mode_ignores_unknown_keys(spark, tmp_path):
    """insert.mode=update: rows for existing keys are modified, unknown
    keys silently ignored (SQL UPDATE semantics); works across the MOR
    mode-change compaction."""
    import dataclasses

    from kafka_connect_jdbc_flatten_spark.sources.changelog import (
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config,
    )

    base_cfg = transcript_flatten_config()
    plan_upsert = compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA, TRANSCRIPT_VALUE_SCHEMA, base_cfg,
        value_record_name="Conversation", key_record_name="ConversationKey",
    )
    wh = str(tmp_path / "wh")
    ap1 = CdcApplier(spark, wh, plan_upsert, n_buckets=4)
    ap1.apply_batch(
        mkdf(spark, [env("c1", [(0, "u", "old", "t"), (1, "a", "keep", "t")], "c", 1)]),
        batch_id=0,
    )

    cfg_upd = dataclasses.replace(base_cfg, insert_mode="update")
    plan_upd = compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA, TRANSCRIPT_VALUE_SCHEMA, cfg_upd,
        value_record_name="Conversation", key_record_name="ConversationKey",
    )
    ap2 = CdcApplier(spark, wh, plan_upd, n_buckets=4)
    rows = [
        env("c1", [(0, "u", "NEW", "t")], "u", 10),   # turn 0 exists → updated
        env("c2", [(0, "u", "nope", "t")], "c", 11),  # unknown conv → ignored
    ]
    ap2.apply_batch(mkdf(spark, rows), batch_id=1)
    turns = {
        (r.conv_id, r.turn_idx): r.text
        for r in ap2.read("transcripts_conversation_turns").collect()
    }
    # row-level update: turn 0 modified, turn 1 untouched, c2 absent
    assert turns == {("c1", 0): "NEW", ("c1", 1): "keep"}
    # tombstone in update mode (delete_enabled) wipes the key
    ap2.apply_batch(mkdf(spark, [env("c1", None, "d", 12)]), batch_id=2)
    assert ap2.read("transcripts_conversation_turns").count() == 0


def test_foreign_table_tombstones_scoped_to_topic(spark, plan, tmp_path):
    """Tombstones wipe matching keys from tables of the SAME topic that
    this plan doesn't know (drift: created by another schema
    fingerprint) — and never touch a different topic's tables sharing
    the warehouse."""
    from kafka_connect_jdbc_flatten_spark.lake.table import SEQ_COL, LakeTable

    wh = tmp_path / "wh"
    ap = CdcApplier(spark, str(wh), plan, n_buckets=4)

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("extra", T.StringType(), True),
        T.StructField(SEQ_COL, T.LongType(), True),
    ])
    rows = [("c1", "x", 1), ("c2", "y", 1)]

    # same-topic foreign table (as a drifted fingerprint would create)
    same = LakeTable.create(
        spark, str(wh / "transcripts_conversation_extra"), schema,
        ["conv_id"], n_buckets=4,
    )
    same.merge(spark.createDataFrame(rows, schema), mode="replace",
               scope_keys=["conv_id"], batch_id=0)
    # different-topic table sharing the warehouse
    other = LakeTable.create(
        spark, str(wh / "orders_order"), schema, ["conv_id"], n_buckets=4,
    )
    other.merge(spark.createDataFrame(rows, schema), mode="replace",
                scope_keys=["conv_id"], batch_id=0)

    ap.apply_batch(
        mkdf(spark, [env("c1", [(0, "u", "a", "")], "c", 1),
                     env("c2", [(0, "u", "b", "")], "c", 2)]),
        batch_id=0,
    )
    ap.apply_batch(mkdf(spark, [env("c1", None, "d", 3)]), batch_id=1)

    assert {r.conv_id for r in same.read().collect()} == {"c2"}
    assert {r.conv_id for r in other.read().collect()} == {"c1", "c2"}
    # replaying the tombstone batch is a no-op (exactly-once ledger)
    v = same._current_version()
    ap.apply_batch(mkdf(spark, [env("c1", None, "d", 3)]), batch_id=1)
    assert same._current_version() == v


def test_foreign_tombstones_use_topic_property_not_prefix(spark, plan, tmp_path):
    """Round-3 review: prefix matching alone both over-matches a
    DIFFERENT topic whose delimiter-joined name shares the prefix and
    misses same-topic tables renamed out of the prefix.  The manifest
    topic property (stamped at create) scopes exactly; property-less
    tables keep the prefix fallback."""
    from kafka_connect_jdbc_flatten_spark.lake.table import SEQ_COL, LakeTable

    wh = tmp_path / "wh"
    ap = CdcApplier(spark, str(wh), plan, n_buckets=4)

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), True),
        T.StructField(SEQ_COL, T.LongType(), True),
    ])
    rows = [("c1", 1), ("c2", 1)]

    # DIFFERENT topic, prefix-colliding name (topic transcripts.other)
    collide = LakeTable.create(
        spark, str(wh / "transcripts_other_x"), schema, ["conv_id"],
        n_buckets=4, properties={"topic": "transcripts.other"},
    )
    collide.merge(spark.createDataFrame(rows, schema), mode="replace",
                  scope_keys=["conv_id"], batch_id=0)
    # SAME topic, renamed out of the prefix
    renamed = LakeTable.create(
        spark, str(wh / "zzz_renamed"), schema, ["conv_id"],
        n_buckets=4, properties={"topic": "transcripts"},
    )
    renamed.merge(spark.createDataFrame(rows, schema), mode="replace",
                  scope_keys=["conv_id"], batch_id=0)

    ap.apply_batch(
        mkdf(spark, [env("c1", [(0, "u", "a", "")], "c", 1)]), batch_id=0
    )
    ap.apply_batch(mkdf(spark, [env("c1", None, "d", 2)]), batch_id=1)

    assert {r.conv_id for r in collide.read().collect()} == {"c1", "c2"}
    assert {r.conv_id for r in renamed.read().collect()} == {"c2"}


def test_upsert_empty_array_wipes_child_rows(spark, plan, tmp_path):
    """Whole-image replacement with an array shrunk to EMPTY (or null)
    must delete the previous child rows (r3 review: zero flattened
    rows meant the scope never entered the delete set, leaving stale
    children forever)."""
    ap = CdcApplier(spark, str(tmp_path / "wh"), plan, n_buckets=4)
    ap.apply_batch(
        mkdf(spark, [
            env("c1", [(0, "u", "a", ""), (1, "a", "b", "")], "c", 1),
            env("c2", [(0, "u", "x", "")], "c", 2),
            env("c3", [(0, "u", "y", "")], "c", 3),
        ]),
        batch_id=0,
    )
    assert ap.read("transcripts_conversation_turns").count() == 4
    # c1 image shrinks to an EMPTY array; c3 image to a NULL array
    ap.apply_batch(
        mkdf(spark, [
            env("c1", [], "u", 4),
            (
                "transcripts", 0, 5, TS, "CreateTime", ("c3",), None,
                ("c3", None), "u", 5, TS,
            ),
        ]),
        batch_id=1,
    )
    turns = ap.read("transcripts_conversation_turns")
    assert {r.conv_id for r in turns.collect()} == {"c2"}
    # parent table keeps the (childless) conversation images
    parents = {r.conv_id for r in ap.read("transcripts_conversation").collect()}
    assert parents == {"c1", "c2", "c3"}
    # and compaction preserves the state
    for t in ap.tables.values():
        t.compact()
    assert {r.conv_id for r in ap.read("transcripts_conversation_turns").collect()} == {"c2"}


def test_incompatible_foreign_table_cannot_wedge_the_pipeline(spark, plan, tmp_path):
    """r3 advisory: the foreign-tombstone fan-out runs AFTER the main
    tables' segments are durably committed; a foreign table whose
    layout is incompatible with the key scope must surface an error in
    the stats instead of raising — a raise would crash-loop the stream
    (main tables skip via the batch ledger on every retry, the foreign
    call re-raises forever)."""
    from kafka_connect_jdbc_flatten_spark.lake.table import SEQ_COL, LakeTable

    wh = tmp_path / "wh"
    ap = CdcApplier(spark, str(wh), plan, n_buckets=4)

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("other", T.LongType(), True),
        T.StructField(SEQ_COL, T.LongType(), True),
    ])
    # same topic, but bucketed by a DIFFERENT layout key than the
    # tombstone scope ["conv_id"] — delete_where_keys raises on it
    bad = LakeTable.create(
        spark, str(wh / "transcripts_conversation_bad"), schema,
        ["other"], n_buckets=4, properties={"topic": "transcripts"},
    )
    bad.merge(
        spark.createDataFrame([("c1", 7, 1)], schema), mode="replace",
        scope_keys=["other"], batch_id=0,
    )

    ap.apply_batch(
        mkdf(spark, [env("c1", [(0, "u", "a", "")], "c", 1),
                     env("c2", [(0, "u", "b", "")], "c", 2)]),
        batch_id=0,
    )
    stats = ap.apply_batch(mkdf(spark, [env("c1", None, "d", 3)]), batch_id=1)
    # the main tables applied the tombstone...
    assert {
        r.conv_id for r in ap.read("transcripts_conversation").collect()
    } == {"c2"}
    # ...and the incompatible foreign table reported, not raised
    bad_stats = stats["transcripts_conversation_bad"]
    assert "error" in bad_stats and "bucket layout" in bad_stats["error"]
    # its rows are untouched (operator intervention required)
    assert bad.read().count() == 1
