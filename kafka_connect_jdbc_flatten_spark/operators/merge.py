"""CDC apply — flatten a changelog micro-batch and MERGE it into lake
tables.

Spark-side equivalent of the reference's sink write path
(``JdbcDbWriter.write`` → per-table ``BufferedRecords`` → flush +
``connection.commit()``, ``JdbcDbWriter.java:60-225``), with the
ordering machinery replaced by a per-key last-writer-wins reduction
and the JDBC transaction replaced by the lake table's atomic snapshot
commit.

Semantics preserved:

* **upsert = whole-image replacement** — a new record image fully
  replaces the previous image in every target table, including child
  rows of shrunk arrays (delete-then-insert,
  ``BufferedRecords.java:264-270, 377-415``; golden 1/1/1 counts
  ``JdbcSinkTaskTestPostgresArray.java:1708-1874``).
* **tombstones delete from every table of the topic**
  (``JdbcDbWriter.java:130-198``) using the key-derived PK columns
  only (``keyFieldNamesInKey``, ``BufferedRecords.java:399-415``).
* **per-key op order** — the reference flushes buffers to keep JDBC
  statement order; we reduce each batch to the newest envelope per
  record key on the binlog total order ``(seq)`` before flattening,
  so at most one image per key reaches MERGE.
* **exactly-once** — batch ids recorded in each table's manifest make
  re-delivered micro-batches no-ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import SEQ_COL, LakeTable, SegmentPart, write_segments
from ..plans.flatten_plan import ARRAY, MAP, FlattenPlan, TableSpec
from .explode import flatten_table, has_rows_expr
from .lww import lww_reduce_auto

DELETE_COL = "__is_delete"


class CdcApplier:
    """Applies CDC envelope batches to one lake table per TableSpec.

    Envelope contract (see ``sources.changelog``): columns
    ``topic, partition, offset, timestamp, timestamp_type, key, value,
    op, seq`` where ``op ∈ {c,u,d}`` (``d`` may also arrive as a null
    ``value`` = tombstone) and ``seq`` is the binlog position.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        plan: FlattenPlan,
        n_buckets: int = 16,
        max_broadcast_keys: int = 8_000_000,
    ):
        if not plan.tables:
            raise ValueError("plan has no target tables")
        self.spark = spark
        self.warehouse = warehouse
        self.plan = plan
        self.max_broadcast_keys = max_broadcast_keys
        self.tables: dict[str, LakeTable] = {}
        self._scopes: dict[str, list[str]] = {}
        for spec in plan.tables:
            schema = T.StructType(
                list(spec.spark_schema.fields)
                + [T.StructField(SEQ_COL, T.LongType(), True)]
            )
            keys = list(spec.merge_keys) or [c.out_name for c in spec.columns]
            path = os.path.join(warehouse, spec.table_name)
            if not plan.config.auto_create and not LakeTable.exists(spark, path):
                raise ValueError(
                    f"Table {spec.table_name} is missing and auto-creation "
                    "is disabled (auto.create=false, DbStructure.java:105-110)"
                )
            # the topic is stamped into the manifest so the tombstone
            # fan-out can scope by topic exactly, independent of table
            # renames or prefix collisions; bucket_cols records the hash
            # layout (the MERGE scope = the key-derived PKs) so every
            # bucket-pruned rewrite — including overwrite() bootstraps —
            # provably hashes the same way
            scope = list(spec.key_merge_keys) or keys
            self._scopes[spec.table_name] = scope
            self.tables[spec.table_name] = LakeTable.create_if_not_exists(
                spark, path, schema, keys, n_buckets,
                properties={"topic": plan.config.topic},
                bucket_cols=scope,
            )

    # ------------------------------------------------------------------
    def apply_batch(
        self,
        changelog: DataFrame,
        batch_id: int | None = None,
        writer_suffix: str = "",
        n_rows_hint: int | None = None,
    ) -> dict:
        """Flatten + MERGE one micro-batch.  Returns per-table stats.

        Every target table's segment goes through ONE ``write_segments``
        call on the calling thread (one Spark write job per group of
        type-compatible tables), then each table's manifest commits;
        a replay skips the tables that already committed the batch.

        ``writer_suffix`` namespaces the exactly-once batch-id ledger —
        the schema-drift path applies one micro-batch as several
        per-schema sub-batches, each needing its own dedup key.
        ``n_rows_hint`` (batch row count, if the caller already knows
        it) makes the LWW broadcast-size guard free."""
        plan = self.plan
        key_cols = [c for c in plan.key_pk_columns]
        if not key_cols:
            raise ValueError(
                "CDC apply requires key-derived PKs (pk_mode=flatten + "
                "pk.fields on the key) — same constraint as "
                "FlattenTransformation.java:166-175"
            )

        # Project to the columns the apply actually needs BEFORE
        # reducing: `.persist()` below is a column-pruning barrier, so
        # without this the scan deserializes envelope bytes — the
        # `before` image, and the Kafka coordinates when no table
        # selects them — that nothing downstream reads.
        base_cols = {"key", "value", "op", "seq"}
        if any(
            c.source[0] == "coord" for spec in self.plan.tables for c in spec.columns
        ):
            base_cols |= {"topic", "partition", "offset", "timestamp", "timestamp_type"}
        needed = [c for c in changelog.columns if c in base_cols]
        changelog = changelog.select(*needed)

        imode = self.plan.config.insert_mode
        # upsert replaces whole images (tombstones and shrunk arrays as
        # scope markers); insert appends; insert.mode=update modifies
        # existing keys only, unknown keys silently ignored (SQL UPDATE
        # semantics, PostgreSqlDatabaseDialect update path)
        mode = {"upsert": "replace", "insert": "append", "update": "update"}.get(imode)
        if mode is None:
            raise ValueError(f"unknown insert_mode {imode!r}")
        is_del = F.col("op").eqNullSafe("d") | F.col("value").isNull()
        deletes = None  # insert mode ignores tombstones
        if mode == "append":
            # insert.mode=insert (JdbcSinkConfig.java:133-139): every
            # record appended as-is — no LWW collapse, duplicates
            # tolerated; tombstones are ignored (delete requires the
            # upsert/update paths).  One appended row per flattened
            # record = the reference's insert-count validation shape
            # (BufferedRecords.java:228-239).  Persisted: every target
            # table's union branch reads it.
            upserts = reduced = changelog.filter(~is_del).persist()
        else:
            # one image per key per batch: LWW on the binlog order.
            # Broadcast-winner form while the winner set fits a
            # broadcast: the wide envelope rows (after images) are
            # NEVER shuffled — only (key, seq) pairs move (a
            # column-pruned two-column scan), the body is kept by a
            # broadcast-semi probe.  On a 423 MB/s-disk sandbox the
            # shuffling forms were IO-bound and didn't scale 8→32 cores
            # at all; this form leaves the scan embarrassingly
            # parallel.  Beyond ``max_broadcast_keys`` distinct keys
            # (unbounded backfill batches) the guard falls back to the
            # max_by aggregate form — one shuffle instead of a
            # driver-sized broadcast.  The reduced set is persisted:
            # every target table's flatten + its tombstone scan reads
            # it instead of re-running the reduction 2×n_tables times.
            reduced, _n_rows = lww_reduce_auto(
                changelog, ["key"], ["seq"], self.max_broadcast_keys, n_rows_hint
            )
            upserts = reduced.filter(~is_del)
            # tombstones are a sliver of a CDC batch but every target
            # table derives its delete rows from them — cache the
            # sliver so the per-table scans don't each re-read the full
            # winner cache
            deletes = reduced.filter(is_del).persist()

        try:
            parts = []
            for spec in plan.tables:
                table, scope = self.tables[spec.table_name], self._scopes[spec.table_name]
                rows = (
                    self._batch_rows(spec, upserts, deletes)
                    if mode == "replace"
                    else self._flat(spec, upserts)
                )
                parts.append(SegmentPart(
                    table, table.segment_rows(rows, scope, DELETE_COL), mode, scope,
                    spec.table_name + writer_suffix,
                ))
            stats = dict(zip(self.tables, write_segments(parts, batch_id)))
            if deletes is None:
                return stats
            if mode == "update" and plan.config.delete_enabled and (
                deletes.limit(1).count() > 0
            ):
                # tombstones still wipe matching keys under update mode
                for name, table in self.tables.items():
                    st_del = table.delete_where_keys(
                        deletes.select(*self._key_exprs()),
                        scope_keys=self._scopes[name],
                        batch_id=batch_id,
                        writer_id=name + writer_suffix + "#del",
                    )
                    stats[name] = {"update": stats[name], "delete": st_del}
            # the foreign fan-out runs only after this plan's tables
            # committed; it isolates its own per-table failures
            stats.update(
                self._delete_from_foreign_tables(deletes, batch_id, writer_suffix)
            )
            return stats
        finally:
            if deletes is not None:
                deletes.unpersist()
            reduced.unpersist()

    def _delete_from_foreign_tables(
        self, deletes: DataFrame, batch_id: int | None, writer_suffix: str
    ) -> dict:
        """Tombstones wipe matching rows from EVERY table of the topic
        (``JdbcDbWriter.java:130-198``) — including tables only ANOTHER
        schema fingerprint's plan knows.  Under drift a tombstone is
        carried with whatever value schema its producer last used; a
        key inserted under a LATER schema has child rows in tables this
        plan has never seen.  Foreign tables are discovered from the
        warehouse catalog by the ``topic`` property stamped into their
        manifests (the name prefix for tables older than it); the
        delete key is the key-derived PK, which propagates to every
        table of the topic with the same names (key-PK propagation) and
        is also every table's bucketing scope under CDC apply, so the
        marker segment ``delete_where_keys`` commits is
        layout-consistent.  Runs after this plan's tables committed,
        one ``delete_where_keys`` per foreign table with its failure
        isolated into that table's stats entry."""
        if not self.plan.config.delete_enabled:
            return {}
        from ..sources.monitor import TableMonitor

        cfg = self.plan.config
        topic_part = cfg.case(
            cfg.topic.replace(".", cfg.delimiter).lower()
        ).lower()
        delim = cfg.delimiter.lower()

        # manifest-property lookups are cached: the topic property is
        # immutable (stamped at create), and re-reading every warehouse
        # table's manifest per tombstone-bearing micro-batch would be
        # O(tables) driver file IO on the hot path (r3 review)
        cache: dict[str, bool] = getattr(self, "_same_topic_cache", None)
        if cache is None:
            cache = self._same_topic_cache = {}

        def _same_topic(name: str) -> bool:
            # exact scoping via the manifest's topic property (stamped
            # at create time) — a name-prefix test alone both matches a
            # DIFFERENT topic whose delimiter-joined name shares the
            # prefix (topic "shop" vs "shop.orders" under "_") and
            # misses same-topic tables renamed out of the prefix via
            # rename_tables.  Tables created before the property existed
            # fall back to the prefix test.
            if name in cache:
                return cache[name]
            try:
                props = LakeTable(
                    self.spark, os.path.join(self.warehouse, name)
                ).manifest().get("properties") or {}
            except OSError:
                return False  # not cached: transient read failure
            if "topic" in props:
                same = props["topic"] == cfg.topic
            else:
                same = name.lower() == topic_part or name.lower().startswith(
                    topic_part + delim
                )
            cache[name] = same
            return same

        foreign = [
            n
            for n in TableMonitor(self.warehouse).list_tables()
            if n not in self.tables and _same_topic(n)
        ]
        if not foreign:
            return {}
        keys_df = deletes.select(*self._key_exprs()).distinct()
        if keys_df.limit(1).count() == 0:
            return {}
        scope = [c.out_name for c in self.plan.key_pk_columns]
        stats = {}
        for name in foreign:
            table = LakeTable(self.spark, os.path.join(self.warehouse, name))
            # per-table error isolation (r3 advisory): this fan-out runs
            # AFTER the main tables' segments are durably committed, so
            # an incompatible foreign table (layout mismatch, corrupt
            # manifest) raising here would crash-loop the stream — on
            # retry the main tables skip via the batch ledger and the
            # foreign call re-raises forever.  Surface the failure in
            # stats instead; the table's own ledger wasn't stamped, so
            # a later batch's tombstones (or an operator fix) retry it.
            try:
                # a keys-only marker segment: O(keys) per foreign table
                stats[name] = table.delete_where_keys(
                    keys_df, scope, batch_id=batch_id,
                    writer_id=name + writer_suffix,
                )
            except Exception as e:  # noqa: BLE001 — isolate per table
                stats[name] = {"error": f"{type(e).__name__}: {e}"}
        return stats

    @staticmethod
    def _flat(spec: TableSpec, envelopes: DataFrame) -> DataFrame:
        """One table's flattened rows, carrying the binlog ``seq``."""
        return flatten_table(envelopes, spec, carry_cols=("seq",)).withColumnRenamed(
            "seq", SEQ_COL
        )

    def _batch_rows(self, spec: TableSpec, upserts: DataFrame, deletes: DataFrame) -> DataFrame:
        """Flattened upsert rows ∪ scope marker rows for one table.

        Marker rows (key PKs + nulls, flagged for delete) come from
        tombstones AND from upsert envelopes that flatten to ZERO rows
        for this table: whole-image replacement is delete-then-insert
        (``BufferedRecords.java:264-270``), so an upsert whose array
        shrank to EMPTY/null must still scope the child table's old
        rows for deletion (r3 review: the stale-child bug).  The
        zero-row set is derived by the ``has_rows_expr`` predicate — a
        scan-local column expression mirroring the explode chain — so
        only actually-shrunk envelopes pay a marker row, instead of
        every envelope writing one through the sink (r3 "Next round"
        #1: the blanket markers cost ~1.2 s/batch at sf0.1 and, being
        filtered on every read, taxed reads too)."""
        flat = self._flat(spec, upserts).withColumn(DELETE_COL, F.lit(False))
        del_rows = deletes.select(
            *self._key_exprs(),
            F.col("seq"),
            F.lit(True).alias(DELETE_COL),
        )
        if any(c.kind in (ARRAY, MAP) for c in spec.chain):
            # only generator tables can flatten an envelope to ZERO
            # rows (the root table yields exactly one row per image,
            # so its scope is always present in `flat`)
            del_rows = del_rows.unionByName(
                upserts.filter(~has_rows_expr(spec)).select(
                    *self._key_exprs(),
                    F.col("seq"),
                    F.lit(True).alias(DELETE_COL),
                )
            )
        key_names = set(spec.key_merge_keys)
        sel = []
        for cs in spec.columns:
            if cs.out_name in key_names:
                sel.append(F.col(cs.out_name).cast(cs.dtype).alias(cs.out_name))
            else:
                sel.append(F.lit(None).cast(cs.dtype).alias(cs.out_name))
        return flat.unionByName(
            del_rows.select(*sel, F.col("seq").alias(SEQ_COL), F.col(DELETE_COL))
        )

    def _key_exprs(self):
        exprs = []
        for c in self.plan.key_pk_columns:
            fname = c.source[1]
            base = F.col("key") if fname is None else F.col("key").getField(fname)
            exprs.append(base.cast(c.dtype).alias(c.out_name))
        return exprs

    def maintain(self) -> dict:
        """Periodic maintenance: compact every plan table's delta log,
        then vacuum its data dir.  Every table's files live under its
        own dir, so this never touches the files of a table another
        applier owns (under schema drift, appliers for different schema
        fingerprints share the warehouse with different table sets)."""
        stats = {"compacted": 0, "vacuumed_files": 0}
        for table in self.tables.values():
            if not table.compact().get("skipped"):
                stats["compacted"] += 1
            stats["vacuumed_files"] += table.vacuum()
        return stats

    def read(self, table_name: str) -> DataFrame:
        return self.tables[table_name].read().drop("__bucket", SEQ_COL)
