"""Structured Streaming ingest: changelog tail → flatten → MERGE.

The reference's runtime loop is Connect polling ``SourceTask.poll``
every ``poll.interval.ms`` and pushing batches into ``SinkTask.put``
(``JdbcSourceTask.java:342-376``, ``JdbcSinkTask.java:62-74``).  Here
the loop is a Structured Streaming query over a binlog-segment
directory (stand-in for ``readStream.format("kafka")`` — same
micro-batch shape, swap the source line in production):

* ``maxFilesPerTrigger`` ≈ ``batch.max.rows`` backpressure
  (``JdbcSourceConnectorConfig.java:93-97``)
* ``trigger(processingTime=...)`` ≈ ``poll.interval.ms``
  (``:87-91``); ``availableNow`` = bounded replay
* checkpointLocation = Connect's offset storage
  (``TimestampIncrementingOffset.java:54-84``) — restart resumes
  exactly where the last committed micro-batch ended
* exactly-once = checkpoint (at-least-once re-delivery) + the lake
  table's batch-id dedup + idempotent MERGE

Per-partition lineage: each micro-batch records
``max(offset) per partition`` into ``_lineage/`` next to the
warehouse, plus row counters — the observable equivalent of the
reference's per-partition offset map.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import SEQ_COL, LakeTable
from ..operators.lww import lww_reduce_auto
from ..operators.merge import CdcApplier
from ..plans.flatten_plan import FlattenPlan, PlanCache
from ..sources.changelog import CHANGELOG_SCHEMA, schema_carrying_envelope_schema


class StreamingIngest:
    def __init__(
        self,
        spark: SparkSession,
        changelog_dir: str,
        warehouse: str,
        plan: FlattenPlan,
        checkpoint_dir: str,
        n_buckets: int = 16,
        max_files_per_trigger: int | None = None,
        schema=None,
        compact_every: int | None = 16,
    ):
        self._init_stream(
            spark, changelog_dir, warehouse, checkpoint_dir,
            schema or CHANGELOG_SCHEMA, max_files_per_trigger, compact_every,
        )
        self.applier = CdcApplier(spark, warehouse, plan, n_buckets)

    def _init_stream(self, spark, changelog_dir, warehouse, checkpoint_dir,
                     schema, max_files_per_trigger, compact_every) -> None:
        """State every streaming ingest shares: source, checkpoint,
        maintenance cadence, lineage log."""
        self.spark = spark
        self.changelog_dir = changelog_dir
        self.warehouse = warehouse
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        # bound merge-on-read amplification: fold delta segments back
        # into the base every `compact_every` micro-batches (Iceberg's
        # rewrite_data_files maintenance, inline for a single writer)
        self.compact_every = compact_every
        self.lineage_dir = os.path.join(warehouse, "_lineage")
        os.makedirs(self.lineage_dir, exist_ok=True)
        self.batch_stats: list[dict] = []

    def _maintain(self, batch_id: int, appliers) -> None:
        """Every ``compact_every`` micro-batches: compact + vacuum every
        table of every applier."""
        if self.compact_every and (batch_id + 1) % self.compact_every == 0:
            for applier in appliers:
                applier.maintain()

    # ------------------------------------------------------------------
    def _lineage_rows(self, batch_df: DataFrame) -> list:
        """Per-partition lineage + counters in ONE aggregate job."""
        return (
            batch_df.groupBy("partition")
            .agg(
                F.max("offset").alias("max_offset"),
                F.min("offset").alias("min_offset"),
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("deletes"),
            )
            .collect()
        )

    def _record_lineage(
        self, batch_id: int, lineage_rows: list, stats: dict, t0: float, **extra
    ) -> None:
        record = {
            "batch_id": batch_id,
            "rows": sum(r["rows"] for r in lineage_rows),
            "partitions": {
                str(r["partition"]): {
                    "max_offset": r["max_offset"],
                    "min_offset": r["min_offset"],
                    "rows": r["rows"],
                    "deletes": r["deletes"],
                }
                for r in lineage_rows
            },
            "tables": stats,
            "wall_sec": round(time.time() - t0, 3),
            **extra,
        }
        self.batch_stats.append(record)
        tmp = os.path.join(self.lineage_dir, f".batch-{batch_id}.tmp")
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.rename(tmp, os.path.join(self.lineage_dir, f"batch-{batch_id}.json"))

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        lineage_rows = self._lineage_rows(batch_df)
        # the lineage aggregate already counted the batch — reuse it so
        # the LWW broadcast-size guard costs nothing
        stats = self.applier.apply_batch(
            batch_df,
            batch_id=batch_id,
            n_rows_hint=sum(r["rows"] for r in lineage_rows),
        )
        self._maintain(batch_id, [self.applier])
        self._record_lineage(batch_id, lineage_rows, stats, t0)

    # ------------------------------------------------------------------
    def run_available(self, timeout_sec: int | None = None) -> list[dict]:
        """Process everything currently in the changelog dir, then stop
        (bounded replay / catch-up run).  Restart-safe via checkpoint."""
        reader = self.spark.readStream.schema(self.schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.option("recursiveFileLookup", "true").parquet(
            self.changelog_dir
        )
        q = (
            stream.writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()
        if q.exception() is not None:
            raise q.exception()
        return self.batch_stats

    def lineage(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.lineage_dir)):
            if f.startswith("batch-") and f.endswith(".json"):
                with open(os.path.join(self.lineage_dir, f)) as fh:
                    out.append(json.load(fh))
        return sorted(out, key=lambda r: r["batch_id"])

    def read(self, table_name: str) -> DataFrame:
        return self.applier.read(table_name)


class SchemaDriftIngest(StreamingIngest):
    """Streaming ingest over a SCHEMA-CARRYING changelog, with the
    reference's headline auto-evolve behavior: a value-schema change
    arriving mid-stream is detected per micro-batch, the flatten plan
    is recompiled (``PlanCache`` keyed on the schema fingerprint), each
    target table is additively evolved, and the new columns route
    (``BufferedRecords.java:104-126``, ``DbStructure.java:127-234``;
    evolution fixture pair ``value_wo_array.avsc`` → ``value.avsc``).

    Feed contract: ``schema_carrying_envelope_schema(key_schema)`` —
    the ``value`` is a JSON string accompanied by the Spark-schema JSON
    it was written with (the ``SinkRecord(valueSchema, value)`` shape).
    Each micro-batch is split into per-schema groups (the reference
    flushes its buffer on schema change — same effect), applied oldest
    schema first by ``min(seq)``; each group gets its own exactly-once
    writer namespace so redelivery of a partially-applied micro-batch
    heals per group.
    """

    def __init__(
        self,
        spark: SparkSession,
        changelog_dir: str,
        warehouse: str,
        cfg,
        key_schema,
        checkpoint_dir: str,
        value_record_name: str | None = None,
        key_record_name: str | None = None,
        n_buckets: int = 16,
        max_files_per_trigger: int | None = None,
        compact_every: int | None = 16,
    ):
        self._init_stream(
            spark, changelog_dir, warehouse, checkpoint_dir,
            schema_carrying_envelope_schema(key_schema),
            max_files_per_trigger, compact_every,
        )
        self.cfg = cfg
        self.key_schema = key_schema
        self.value_record_name = value_record_name
        self.key_record_name = key_record_name
        self.n_buckets = n_buckets
        # plan cache capacity = flatten.instruction_cache_size parity
        self.plan_cache = PlanCache(capacity=cfg.instruction_cache_size)
        self.appliers: dict[str, CdcApplier] = {}
        self.evolutions: list[dict] = []  # audit log of ALTER ADDs

    # ------------------------------------------------------------------
    def _applier_for(self, schema_json: str) -> tuple[CdcApplier, str]:
        suffix = "@" + hashlib.md5(schema_json.encode()).hexdigest()[:8]
        ap = self.appliers.get(schema_json)
        if ap is not None:
            return ap, suffix
        vschema = T.StructType.fromJson(json.loads(schema_json))
        plan = self.plan_cache.get(
            self.key_schema,
            vschema,
            self.cfg,
            self.value_record_name,
            self.key_record_name,
        )
        # additively evolve every already-existing target table to this
        # plan's schema BEFORE any write routes the new columns
        for spec in plan.tables:
            path = os.path.join(self.warehouse, spec.table_name)
            if LakeTable.exists(self.spark, path):
                table = LakeTable(self.spark, path)
                evolved = T.StructType(
                    list(spec.spark_schema.fields)
                    + [T.StructField(SEQ_COL, T.LongType(), True)]
                )
                if not self.cfg.auto_evolve:
                    have = {f.name.lower() for f in table.schema.fields}
                    missing = [
                        f.name for f in evolved.fields if f.name.lower() not in have
                    ]
                    if missing:
                        raise ValueError(
                            f"Table {spec.table_name} is missing fields "
                            f"{missing} and auto-evolution is disabled "
                            "(auto.evolve=false, DbStructure.java:190-197)"
                        )
                added = table.evolve_schema(evolved)
                if added:
                    self.evolutions.append(
                        {"table": spec.table_name, "added": added}
                    )
        ap = CdcApplier(self.spark, self.warehouse, plan, self.n_buckets)
        self.appliers[schema_json] = ap
        return ap, suffix

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        lineage_rows = self._lineage_rows(batch_df)
        # one winner per key FIRST, across ALL schemas (the value is
        # still an opaque JSON string here, so the reduction is schema-
        # agnostic) — otherwise a key whose schema alternates within
        # one micro-batch would have its superseded old-schema image
        # land in a LATER segment and win reconciliation
        reduced, _ = lww_reduce_auto(
            batch_df,
            ["key"],
            ["seq"],
            n_rows=sum(r["rows"] for r in lineage_rows),
        )
        # distinct value schemas this micro-batch (tiny aggregate),
        # applied in order of first appearance in the binlog
        groups = sorted(
            reduced.groupBy("value_schema")
            .agg(F.min("seq").alias("first_seq"))
            .collect(),
            key=lambda r: r["first_seq"],
        )
        stats: dict = {}
        for r in groups:
            schema_json = r["value_schema"]
            applier, suffix = self._applier_for(schema_json)
            vschema = T.StructType.fromJson(json.loads(schema_json))
            sub = reduced
            if len(groups) > 1:
                sub = reduced.filter(F.col("value_schema") == schema_json)
            sub = sub.withColumn(
                "value", F.from_json(F.col("value"), vschema)
            ).drop("value_schema")
            st = applier.apply_batch(
                sub, batch_id=batch_id, writer_suffix=suffix
            )
            for tname, tstats in st.items():
                stats.setdefault(tname, []).append(tstats)
        reduced.unpersist()
        self._maintain(batch_id, self.appliers.values())
        self._record_lineage(
            batch_id, lineage_rows, stats, t0, schemas=len(groups)
        )

    def read(self, table_name: str) -> DataFrame:
        for applier in self.appliers.values():
            if table_name in applier.tables:
                return applier.read(table_name)
        raise KeyError(table_name)
