"""LakeTable — minimal lake-table format with atomic snapshot commits.

The reference gets transactionality from JDBC (`connection.commit()`,
``JdbcDbWriter.java:224``) and table DDL from auto-create/evolve
(``DbStructure.java:107-234``).  On Spark the idiomatic target is
Iceberg/Delta; those jars aren't available in this sandbox, so this
module implements the minimal subset the engine needs with the same
guarantees — it is deliberately shaped like Iceberg so a production
deployment swaps it for ``df.writeTo(...)`` / ``MERGE INTO`` with no
plan changes:

* **Snapshot isolation / atomic commit** — every commit publishes a
  new immutable manifest ``_manifest/v{N}.json`` with an exclusive
  create (``os.link``), then moves the pointer file
  ``_manifest/CURRENT``.  The exclusive create is the commit point:
  of two writers racing from the same base exactly one wins, the
  other raises ``ConcurrentCommitError``.  CURRENT is a hint readers
  roll forward over later published versions, so a crash between the
  publish and the pointer move loses nothing (on object stores this
  maps to Iceberg's conditional metadata swap).
* **Hash-bucket layout** — rows are bucketed by
  ``pmod(xxhash64(bucket_cols), n_buckets)`` (same idea as Iceberg's
  ``bucket(N, conv_id)`` partition transform).
* **Merge-on-read** — MERGE writes only the batch, as a delta segment
  (O(batch) IO per commit); ``read()`` reconciles the segments against
  the base and ``compact()`` folds them back, rewriting only the
  buckets the segments touch.  Deletes are delete-flagged marker rows
  in a segment.  At 100 TB you size ``n_buckets`` so a bucket ≈ a few
  GB; skewed hot keys spread with the salt column handled upstream
  (``operators.skew``).
* **File layout** — each table owns its files: every write lands in
  ``<table>/data/commit-<id>/``.  A delta segment is one bucket-sorted
  file per table (several, bucket-disjoint, for a large batch),
  listed in the manifest under every bucket it holds; base files
  (``compact``, ``overwrite``) sit one ``__bucket_p=<b>/`` dir per
  bucket.  A write stages its files under a ``data/staging-<id>/``
  dir and renames each table's slice into place, so one Spark job
  can write several tables' segments and a crashed write leaves
  debris only inside ``data/``, which ``vacuum()`` removes.
* **Additive schema evolution** — new nullable columns append to the
  manifest schema; old files are read with the merged schema (missing
  columns → null).  Non-nullable additions without defaults are
  rejected, mirroring ``DbStructure.java:177-187``.
* **Exactly-once sink** — the manifest records
  ``last_committed_batch_id`` per writer; re-delivery of an already
  committed micro-batch (Structured Streaming ``foreachBatch`` replay
  after crash) is detected and skipped, giving exactly-once on top of
  at-least-once delivery.

Single-writer per table (one streaming query), like one Connect sink
task per table set; a concurrent-commit race fails loudly rather than
silently losing a snapshot.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "__bucket"
SEQ_COL = "__seq"
MOR_DELETE_COL = "__mor_del"
SEG_COL = "__seg"
# partition column of a multi-part write; its value is the part index
PART_COL = "__part"
# replace-mode reconcile broadcasts the delta winner map only while the
# delta segments' on-disk bytes stay under this cap (a free upper bound
# on winner-map rows); larger deltas take a shuffle join
MOR_BROADCAST_DELTA_BYTES = 256 * 1024 * 1024


def _data_files(m: dict) -> list[str]:
    """Every data file a manifest references: base files and delta
    segments."""
    file_maps = [m["files"], *(seg["files"] for seg in m.get("segments", []))]
    return [f for fm in file_maps for fl in fm.values() for f in fl]


class ConcurrentCommitError(RuntimeError):
    pass


class SchemaEvolutionError(ValueError):
    pass


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._manifest_dir = os.path.join(self.path, "_manifest")
        self._data_dir = os.path.join(self.path, "data")

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 16,
        properties: dict | None = None,
        bucket_cols: list[str] | None = None,
    ) -> "LakeTable":
        """CREATE TABLE — auto-create analogue (``DbStructure.java:107-121``).

        ``bucket_cols`` (default = ``key_cols``) is the hash-layout
        key, recorded in the manifest: every segment write (merge,
        delete) validates its scope against it, so a caller can never
        silently write into the wrong buckets (r3 review:
        ``overwrite()`` bucketing by row PK while merges bucket by the
        key scope left tombstoned rows alive forever)."""
        t = cls(spark, path)
        os.makedirs(t._manifest_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        if os.path.exists(os.path.join(t._manifest_dir, "CURRENT")):
            raise FileExistsError(f"table already exists at {path}")
        manifest = {
            "version": 0,
            "schema": schema.json(),
            "key_cols": list(key_cols),
            "bucket_cols": list(bucket_cols or key_cols),
            "n_buckets": n_buckets,
            "files": {},  # bucket(str) -> [file paths]
            "last_committed_batch_id": {},  # writer_id -> batch_id
            "properties": properties or {},
            "snapshots": [],
        }
        t._write_manifest(manifest)
        return t

    @classmethod
    def create_if_not_exists(
        cls, spark, path, schema, key_cols, n_buckets=16, properties=None,
        bucket_cols=None,
    ):
        t = cls(spark, path)
        if os.path.exists(os.path.join(t._manifest_dir, "CURRENT")):
            return t
        return cls.create(
            spark, path, schema, key_cols, n_buckets, properties, bucket_cols
        )

    @classmethod
    def exists(cls, spark, path) -> bool:
        return os.path.exists(os.path.join(path, "_manifest", "CURRENT"))

    # ----------------------------------------------------------- manifests
    def _current_version(self) -> int:
        """CURRENT, rolled forward over consecutive published versions:
        ``v{N}.json`` is the commit point, so a writer that crashed
        after publishing but before moving CURRENT left a committed
        snapshot that must be read (and built on) rather than wedge
        every later commit."""
        with open(os.path.join(self._manifest_dir, "CURRENT")) as f:
            v = int(f.read().strip())
        while os.path.exists(os.path.join(self._manifest_dir, f"v{v + 1}.json")):
            v += 1
        return v

    def manifest(self, version: int | None = None) -> dict:
        """Current manifest, or a PINNED historical snapshot when
        ``version`` is given (manifest files are immutable and never
        rewritten, so every committed version stays addressable —
        Iceberg's metadata time travel)."""
        v = self._current_version() if version is None else int(version)
        mpath = os.path.join(self._manifest_dir, f"v{v}.json")
        if not os.path.exists(mpath):
            raise ValueError(f"no snapshot v{v} for table {self.path}")
        with open(mpath) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        v = manifest["version"]
        mpath = os.path.join(self._manifest_dir, f"v{v}.json")
        tmp = mpath + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        # link() never replaces an existing name (rename() would), so
        # of two writers publishing the same version exactly one wins
        try:
            os.link(tmp, mpath)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"table {self.path} moved past v{v - 1}"
            ) from None
        finally:
            os.unlink(tmp)
        cur_tmp = os.path.join(self._manifest_dir, f"CURRENT.tmp.{uuid.uuid4().hex}")
        with open(cur_tmp, "w") as f:
            f.write(str(v))
        os.rename(cur_tmp, os.path.join(self._manifest_dir, "CURRENT"))

    def _commit(self, base_version: int, manifest: dict) -> None:
        """Optimistic-concurrency commit of ``base_version + 1``: raises
        ``ConcurrentCommitError`` if another writer published it."""
        manifest["version"] = base_version + 1
        manifest["snapshots"] = (manifest.get("snapshots") or [])[-99:]
        manifest["snapshots"].append(
            {"version": manifest["version"], "wall_ms": int(time.time() * 1000)}
        )
        self._write_manifest(manifest)

    # --------------------------------------------------------------- reads
    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.manifest()["schema"]))

    @property
    def key_cols(self) -> list[str]:
        return self.manifest()["key_cols"]

    def snapshots(self) -> list[dict]:
        """Committed snapshot history ``[{version, wall_ms}, ...]``
        (ascending; the manifest carries the last 99)."""
        return list(self.manifest().get("snapshots") or [])

    def read_as_of(self, wall_ms: int, buckets: list[int] | None = None) -> DataFrame:
        """Time-travel read at the newest snapshot committed at or
        before ``wall_ms`` (Iceberg's ``TIMESTAMP AS OF``)."""
        eligible = [s for s in self.snapshots() if s["wall_ms"] <= wall_ms]
        if not eligible:
            raise ValueError(
                f"no snapshot of {self.path} at or before wall_ms={wall_ms}"
            )
        return self.read(buckets=buckets, version=eligible[-1]["version"])

    def read(
        self, buckets: list[int] | None = None, version: int | None = None
    ) -> DataFrame:
        """Snapshot read; ``buckets`` restricts to those buckets: only
        the files the manifest lists under them are scanned, each once,
        and a ``__bucket`` filter drops the other buckets' rows of
        segment files that hold several.  When merge-on-read delta
        segments exist they are reconciled here (latest segment wins
        per scope / per key, see ``merge``).

        ``version`` pins a historical snapshot (``VERSION AS OF``):
        manifests are immutable, so the read plan is identical — only
        the file list differs.  Data files of old snapshots survive
        until ``vacuum(retain_last=...)`` drops them; reading past the
        retention raises with guidance instead of failing mid-scan."""
        m = self.manifest(version)
        if version is not None:
            missing = [f for f in _data_files(m) if not os.path.exists(f)]
            if missing:
                raise ValueError(
                    f"snapshot v{version} of {self.path} has been vacuumed "
                    f"({len(missing)} data files gone); keep more history "
                    "with vacuum(retain_last=N)"
                )
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        bucket_field = T.StructField(BUCKET_COL, T.IntegerType(), True)
        read_schema = T.StructType(
            list(schema.fields)
            + [bucket_field, T.StructField(MOR_DELETE_COL, T.BooleanType(), True)]
        )
        segments = m.get("segments", [])
        # base files are segment 0, delta segments 1..n in commit order
        file_maps = [m["files"], *(seg["files"] for seg in segments)]
        # explicit schema ⇒ files lacking newly-evolved columns, the MOR
        # delete flag or (keys-only delete markers) the payload read as
        # null (additive evolution)
        parts = []
        for i, fm in enumerate(file_maps):
            fl = list(dict.fromkeys(
                f for b, fs in fm.items() if buckets is None or int(b) in buckets
                for f in fs
            ))
            if not fl:
                continue
            part = self.spark.read.schema(read_schema).parquet(*fl).withColumn(SEG_COL, F.lit(i))
            # a base file holds one bucket; a segment file may hold
            # several, listed under each of them.  array_contains over
            # an array literal compiles to the same code for every
            # bucket list, where an int IN inlines its values and so
            # recompiles the scan for each bucket a lookup reads.
            if i and buckets is not None:
                part = part.filter(F.array_contains(F.lit(list(buckets)), F.col(BUCKET_COL)))
            parts.append(part)
        if not parts:
            return self.spark.createDataFrame(
                [], T.StructType(list(schema.fields) + [bucket_field])
            )
        allrows = parts[0]
        for p in parts[1:]:
            allrows = allrows.unionByName(p)
        if not segments:
            return allrows.drop(MOR_DELETE_COL, SEG_COL)
        return self._reconcile(allrows, m)

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """CDC egress: the keyed row-level diff between two snapshots —
        what a downstream consumer must apply to move from
        ``from_version`` to ``to_version`` (default: current).  The
        read-side complement of the ingest path (Iceberg's
        changelog/incremental scan).

        Output: ``_op ∈ {c,u,d}`` + the key columns + the TO-snapshot
        image of ``compare_cols`` (null for ``d`` rows).  Unchanged
        rows are absent.  Requires key-unique snapshots (lww/replace
        tables — the CDC apply invariant); ``compare_cols`` defaults to
        every non-key data column and is also the change predicate, so
        callers exclude bookkeeping columns (e.g. the batch seq) to
        diff on payload alone.

        Scale shape: ONE full-outer equi-join on the key columns
        between two bucket-pruned snapshot reads — both sides hash the
        same key layout, no driver-side state."""
        m_to = self.manifest(to_version)
        keys = m_to["key_cols"]
        data_cols = [
            f.name
            for f in T.StructType.fromJson(json.loads(m_to["schema"])).fields
            if f.name not in keys
        ]
        cols = list(compare_cols) if compare_cols is not None else data_cols
        bad = sorted(set(cols) - set(data_cols))
        if bad:
            raise ValueError(f"compare_cols {bad} not data columns of {self.path}")
        # columns added by auto-evolve AFTER from_version don't exist in
        # the older snapshot — read them as typed nulls, exactly how the
        # evolved read treats pre-evolution files (additive evolution)
        to_fields = {
            f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(m_to["schema"])).fields
        }
        bdf = self.read(version=from_version)
        before = bdf.select(
            *keys,
            F.struct(
                *[
                    F.col(c) if c in bdf.columns
                    else F.lit(None).cast(to_fields[c]).alias(c)
                    for c in cols
                ]
            ).alias("__before"),
        )
        after = self.read(version=to_version if to_version is not None
                          else self._current_version()).select(
            *keys, F.struct(*[F.col(c) for c in cols]).alias("__after")
        )
        joined = before.join(after, on=keys, how="full_outer")
        op = (
            F.when(F.col("__before").isNull(), F.lit("c"))
            .when(F.col("__after").isNull(), F.lit("d"))
            .when(~F.col("__before").eqNullSafe(F.col("__after")), F.lit("u"))
        )
        return (
            joined.withColumn("_op", op)
            .filter(F.col("_op").isNotNull())
            .select("_op", *keys, *[F.col("__after")[c].alias(c) for c in cols])
        )

    def apply_changes(
        self,
        changes: DataFrame,
        batch_id: int | None = None,
        writer_id: str = "default",
    ) -> dict:
        """Consume a :meth:`read_changes` diff on a downstream replica:
        upsert the ``c``/``u`` rows, tombstone the ``d`` keys — the
        consumer half of the egress loop (Iceberg changelog consumer /
        the reference's sink applied to a lake replica,
        ``JdbcDbWriter.java:130-198``).

        Requires the diff to carry EVERY data column of this table
        (i.e. produced with the default ``compare_cols``): applying a
        partial-column diff with whole-row LWW would null the
        un-compared columns.  That validation runs BEFORE any schema
        evolution (against the post-evolution expected column set,
        computed without committing), so a rejected diff leaves the
        replica untouched — metadata included (r4 advisory).  Columns
        the SOURCE auto-evolved that this replica lacks then trigger
        the same additive evolution here (``evolve_schema`` — the
        apply path mirrors the ingest path's auto-evolve, S10), so an
        evolving upstream never wedges its replicas.

        Scale shape + atomicity: upserts AND tombstones land as ONE
        ``lww`` MOR delta segment — the ``d`` keys become delete-
        flagged marker rows (keys + the diff's null images) in the
        same commit.
        O(diff) IO with no full-table rewrite, no mixed-segment-mode
        compaction between halves, and readers never observe a
        transient upserts-applied / deletes-pending state (r4
        advisory).  Replays of the same ``batch_id`` are no-ops (one
        writer ledger entry), so foreachBatch re-delivery of a diff
        stream is exactly-once.
        """
        m = self.manifest()
        keys = m["key_cols"]
        have = {f.name.lower() for f in self.schema.fields}
        extras = [
            f
            for f in changes.schema.fields
            if f.name != "_op" and f.name.lower() not in have
        ]
        # validate against the POST-evolution expected columns without
        # committing the evolution yet — a malformed diff must not
        # leave a schema-evolution side effect on the replica
        expected = [f.name for f in self.schema.fields] + [f.name for f in extras]
        data_cols = [c for c in expected if c not in keys]
        missing = sorted(set(["_op", *keys, *data_cols]) - set(changes.columns))
        if missing:
            raise ValueError(
                f"changes lack columns {missing}; produce the diff with the "
                "default compare_cols (all data columns) so LWW apply "
                "cannot null un-compared columns"
            )
        if extras:
            self.evolve_schema(
                T.StructType(
                    list(self.schema.fields)
                    + [T.StructField(f.name, f.dataType, True) for f in extras]
                )
            )
        batch = changes.select(
            *keys, *data_cols, (F.col("_op") == "d").alias("__apply_del")
        )
        return self.merge(
            batch,
            mode="lww",
            delete_col="__apply_del",
            batch_id=batch_id,
            writer_id=f"{writer_id}#changes",
        )

    @staticmethod
    def _delta_bytes(segments: list) -> int:
        """On-disk bytes of the delta segments — a free driver-side
        upper bound on reconcile key-map rows, shared by the update
        and replace broadcast guards."""
        files = {f for seg in segments for fl in seg["files"].values() for f in fl}
        return sum(os.path.getsize(f) for f in files if os.path.exists(f))

    def _reconcile(self, allrows: DataFrame, m: dict) -> DataFrame:
        """Merge-on-read reconciliation.

        * ``replace`` segments: for each scope key that appears in any
          delta segment, ONLY the rows of its newest segment survive
          (whole-image replacement at read time); scope keys never
          touched by a delta keep their base rows.  The winner map is
          only delta-touched keys — broadcastable because compaction
          bounds the delta span.
        * ``lww`` segments: row-level winner per ``key_cols`` on
          ``(segment, seq)``.
        Rows whose winning image is a delete marker drop out.
        """
        segments = m.get("segments", [])
        modes = {s["mode"] for s in segments}
        not_deleted = ~F.coalesce(F.col(MOR_DELETE_COL), F.lit(False))
        if modes == {"append"}:
            # insert mode: every row survives, duplicates included
            # (``BufferedRecords.java:342-357`` INSERT path)
            return allrows.filter(not_deleted).drop(SEG_COL, MOR_DELETE_COL)
        if modes == {"update"}:
            # update mode: row-level winner per key, but ONLY keys that
            # already existed in the base survive — unknown keys are
            # silently ignored like SQL UPDATE (insert.mode=update,
            # ``JdbcSinkConfig.java:133-139``).  Sound because keys only
            # come into existence via the base: any other-mode commit
            # compacts first, folding segments into the base.
            #
            # The winner reduction is restricted to keys that appear in
            # a DELTA segment (r2 advisory): base rows for keys the
            # update batches never touched pass through UNCHANGED —
            # including legitimate duplicates created earlier under
            # insert.mode=insert and since compacted into the base.
            # SQL UPDATE modifies matching rows; it never deduplicates
            # rows it didn't match.
            #
            # Multiplicity (r3 advisory): SQL UPDATE modifies EACH
            # matching row — duplicate base rows for a touched key must
            # all survive, each rewritten with the winning delta image's
            # values, not be collapsed to one winner row.  So the winner
            # is reduced over DELTA rows only and its non-key values are
            # joined back onto every matching base row (an equi-join on
            # the key preserves base-row multiplicity exactly); a
            # winning delete marker drops all matching rows, which is
            # DELETE semantics.
            from ..operators.lww import lww_reduce_agg

            keys = m["key_cols"]
            base_rows = allrows.filter(F.col(SEG_COL) == 0)
            delta_rows = allrows.filter(F.col(SEG_COL) > 0)
            winner = lww_reduce_agg(delta_rows, keys, [SEG_COL, SEQ_COL])
            val_cols = [c for c in allrows.columns if c not in keys]
            winner_vals = winner.select(
                *keys, *[F.col(c).alias(f"__u_{c}") for c in val_cols]
            )
            delta_keys = winner.select(*keys)
            # same byte-bound broadcast guard as the replace reconcile:
            # delta segment bytes bound the winner-map size
            if self._delta_bytes(segments) <= MOR_BROADCAST_DELTA_BYTES:
                winner_vals = F.broadcast(winner_vals)
                delta_keys = F.broadcast(delta_keys)
            untouched = base_rows.join(delta_keys, on=keys, how="left_anti")
            # inner join: unknown delta keys (no base row) vanish —
            # SQL UPDATE silently ignores them
            updated = base_rows.join(winner_vals, on=keys, how="inner").select(
                *keys, *[F.col(f"__u_{c}").alias(c) for c in val_cols]
            )
            return (
                untouched.unionByName(updated)
                .filter(not_deleted)
                .drop(SEG_COL, MOR_DELETE_COL)
            )
        if modes == {"replace"}:
            scopes = [tuple(s["scope_keys"]) for s in segments]
            if len(set(scopes)) != 1:
                raise ValueError("mixed replace scopes; compact() first")
            scope = list(scopes[0])
            delta_keys = (
                allrows.filter(F.col(SEG_COL) > 0)
                .groupBy(*scope)
                .agg(F.max(SEG_COL).alias("__ws"))
            )
            # broadcast ONLY while the delta is provably small: on-disk
            # segment bytes (driver-side metadata, no Spark job) bound
            # the winner-map row count.  A single unbounded backfill
            # batch touches every scope key — forcing the broadcast
            # there would OOM the driver exactly like the r01 LWW bug;
            # past the cap the same join runs as a shuffle join.
            if self._delta_bytes(segments) <= MOR_BROADCAST_DELTA_BYTES:
                delta_keys = F.broadcast(delta_keys)
            out = (
                allrows.join(delta_keys, on=scope, how="left")
                .filter(F.col(SEG_COL) == F.coalesce(F.col("__ws"), F.lit(0)))
                .filter(not_deleted)
                .drop("__ws", SEG_COL, MOR_DELETE_COL)
            )
            return out
        if modes == {"lww"}:
            from ..operators.lww import lww_reduce_agg

            winner = lww_reduce_agg(
                allrows, m["key_cols"], [SEG_COL, SEQ_COL]
            )
            return winner.filter(not_deleted).drop(SEG_COL, MOR_DELETE_COL)
        raise ValueError(f"mixed segment modes {modes}; compact() between them")

    def last_batch_id(self, writer_id: str) -> int:
        return self.manifest()["last_committed_batch_id"].get(writer_id, -1)

    # -------------------------------------------------------------- writes
    def _align(self, df: DataFrame) -> DataFrame:
        """Pad a batch missing newly-evolved columns with typed nulls —
        a pre-evolution (narrower-schema) writer stays valid after
        auto-evolve, mirroring the reference's tolerance of extra DB
        columns (``DbStructure.java:134-137``)."""
        for f in self.schema.fields:
            if f.name not in df.columns:
                if not f.nullable:
                    raise SchemaEvolutionError(
                        f"batch lacks non-optional column {f.name!r}"
                    )
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    def _bucket_expr(self, key_cols=None):
        m = self.manifest()
        kc = key_cols or m.get("bucket_cols") or m["key_cols"]
        return F.pmod(F.xxhash64(*[F.col(c) for c in kc]), F.lit(m["n_buckets"])).cast(
            "int"
        )

    def _check_layout_scope(self, scope: list[str], m: dict) -> None:
        """Segment writes must hash with the table's recorded layout
        key, or the bucket-local reconcile and the bucket-scoped
        ``compact()`` miss rows, which silently survive deletes/merges.

        Manifests created before ``bucket_cols`` existed don't record
        their physical layout, and it is NOT ``key_cols``: the pre-
        ``bucket_cols`` write path bucketed by the MERGE scope (the
        key-derived PKs) while ``key_cols`` held the row PK — child
        tables (row PK ⊃ key scope) would fail this check on every
        merge forever after an upgrade (r3 advisory).  The first
        validated rewrite's scope IS that historical layout (every
        write path passes the same scope the old code bucketed by),
        so backfill ``bucket_cols`` from it: the caller commits the
        manifest it validated, making the migration durable one-time.
        """
        layout = m.get("bucket_cols")
        if layout is None:
            m["bucket_cols"] = list(scope)
            return
        if list(scope) != list(layout):
            raise ValueError(
                f"scope {list(scope)} does not match table bucket layout "
                f"{list(layout)} at {self.path}; rewriting by a different "
                "hash key would miss existing rows"
            )

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(BUCKET_COL, self._bucket_expr())

    def overwrite(self, df: DataFrame, batch_id: int | None = None, writer_id: str = "default") -> None:
        """Replace the whole table (bootstrap/backfill path)."""
        base = self._current_version()
        m = self.manifest()
        m["files"] = write_files([(self, self.with_bucket(df))], base=True)[0]
        m["segments"] = []
        # overwrite rewrites EVERY bucket with _bucket_expr()'s hash —
        # record that layout on legacy manifests lacking bucket_cols so
        # a later _check_layout_scope backfill can't stamp a different
        # scope than the bytes on disk are hashed by
        m.setdefault("bucket_cols", m["key_cols"])
        if batch_id is not None:
            m["last_committed_batch_id"][writer_id] = batch_id
        self._commit(base, m)

    def merge(
        self,
        batch: DataFrame,
        mode: str = "lww",
        scope_keys: list[str] | None = None,
        delete_col: str | None = None,
        batch_id: int | None = None,
        writer_id: str = "default",
    ) -> dict:
        """MERGE a (pre-flattened) batch into the table, merge-on-read:
        ONLY the batch is written, as a new delta segment (O(batch) IO
        per commit — Iceberg MOR / position-delete equivalent; at 10^10
        events a rewrite of every touched bucket per micro-batch would
        be O(table·batches)).  No old-state read, no probe job.  Rows
        with ``delete_col = true`` persist as delete markers in the
        ``__mor_del`` column; ``read()`` resolves winners and
        ``compact()`` folds the log back into the base.

        Modes:

        * ``lww`` — row-level MERGE keyed on ``key_cols``: keep the
          winning row per key; rows whose winning image has
          ``delete_col = true`` are dropped (tombstone,
          ``BufferedRecords.java:91-103``).  Segments reconcile on
          ``(commit order, seq)`` — the apply order IS the authority,
          matching the reference's buffer-flush ordering where the last
          flushed statement wins (``BufferedRecords.java`` flush order),
          and ``CdcApplier`` reduces each batch to one image per key on
          ``seq`` first, so segment order and seq order agree on the
          CDC path (pinned by ``test_mor_out_of_order_seq_within_lww``).
        * ``replace`` — whole-image replacement, the reference's
          flatten-upsert (delete-then-insert,
          ``BufferedRecords.java:264-270, 377-415``): every existing
          row whose ``scope_keys`` appear in the batch is deleted,
          then the batch rows (minus tombstoned scopes) are inserted.
          Child rows of a shrunk array disappear, matching the
          1/1/1 upsert-replay golden
          (``JdbcSinkTaskTestPostgresArray.java:1708-1874``).
        * ``append`` — insert mode: every row survives, duplicates
          included.
        * ``update`` — modify-only: existing rows whose ``key_cols``
          appear in the batch take the winning image; unknown keys are
          ignored (SQL UPDATE).

        Rows are bucketed by ``scope_keys`` (default ``key_cols``),
        which ``commit_segment`` validates against the table layout.

        Exactly-once: if ``batch_id`` ≤ the manifest's recorded id for
        ``writer_id`` the merge is a no-op that writes no files
        (foreachBatch re-delivery).
        """
        if mode not in ("replace", "lww", "append", "update"):
            raise ValueError(f"unknown merge mode {mode!r}")
        scope = list(scope_keys or self.key_cols)
        rows = self.segment_rows(batch, scope, delete_col)
        return write_segments([SegmentPart(self, rows, mode, scope, writer_id)], batch_id)[0]

    def segment_rows(
        self, batch: DataFrame, scope: list[str], delete_col: str | None = None
    ) -> DataFrame:
        """A batch as segment rows: aligned to the table schema and
        projected to it, bucketed by ``scope``, with ``__mor_del`` set
        from ``delete_col`` (false when absent)."""
        is_del = (
            F.coalesce(F.col(delete_col), F.lit(False))
            if delete_col is not None and delete_col in batch.columns
            else F.lit(False)
        )
        return self._align(batch).select(
            *[f.name for f in self.schema.fields],
            self._bucket_expr(scope).alias(BUCKET_COL),
            is_del.alias(MOR_DELETE_COL),
        )

    def _is_committed(self, batch_id: int | None, writer_id: str, m: dict) -> bool:
        return batch_id is not None and batch_id <= m["last_committed_batch_id"].get(
            writer_id, -1
        )

    def commit_segment(
        self,
        files_by_bucket: dict[str, list[str]],
        mode: str,
        scope_keys: list[str],
        batch_id: int | None = None,
        writer_id: str = "default",
    ) -> dict:
        """Append already-written data files as a delta segment (the
        metadata half of a MOR commit, step 5 of ``write_segments``).
        A segment log of a different mode is compacted first, so the
        log only ever holds one mode."""
        base = self._current_version()
        m = self.manifest()
        if self._is_committed(batch_id, writer_id, m):
            return {"skipped": True, "reason": "batch already committed"}
        self._check_layout_scope(list(scope_keys), m)
        existing_modes = {s["mode"] for s in m.get("segments", [])}
        if existing_modes and existing_modes != {mode}:
            self.compact()
            base = self._current_version()
            m = self.manifest()
            # re-validate against the re-read manifest: on a legacy
            # manifest the first check backfilled ``bucket_cols`` into
            # the now-discarded copy of ``m``; committing without it
            # would let a later writer backfill a DIFFERENT layout
            # unchallenged and bucket-prune against the wrong files
            self._check_layout_scope(list(scope_keys), m)
        if not files_by_bucket:
            if batch_id is not None:
                m["last_committed_batch_id"][writer_id] = batch_id
                self._commit(base, m)
            return {"skipped": True, "reason": "empty batch"}
        m.setdefault("segments", []).append(
            {
                "id": uuid.uuid4().hex[:12],
                "mode": mode,
                "scope_keys": list(scope_keys),
                "files": files_by_bucket,
            }
        )
        if batch_id is not None:
            m["last_committed_batch_id"][writer_id] = batch_id
        self._commit(base, m)
        return {
            "skipped": False,
            "segments": len(m["segments"]),
            "version": m["version"],
        }

    def compact(self) -> dict:
        """Fold delta segments into the base (the maintenance half of
        merge-on-read — Iceberg's rewrite_data_files).  Read
        amplification returns to zero; safe to run any time.

        Bucket-scoped (r3 review): only buckets referenced by a delta
        segment are read + rewritten — untouched base buckets keep
        their existing files byte-for-byte.  Sound because every
        reconcile is bucket-local: rows joinable by the reconcile keys
        (scope for replace, row PK for lww/update — both hash-equal
        under the recorded ``bucket_cols`` layout, which every segment
        commit validates) always share a bucket, so a bucket with no
        delta files reconciles to exactly its base rows.  At 100 TB
        this turns the one remaining O(table) maintenance pass into
        O(delta-touched buckets)."""
        m = self.manifest()
        segments = m.get("segments")
        if not segments:
            return {"skipped": True, "reason": "no segments"}
        base = self._current_version()
        touched = sorted({int(b) for seg in segments for b in seg["files"]})
        state = self.read(buckets=touched)  # reconciled, carries BUCKET_COL
        new_files = write_files([(self, state)], base=True)[0]
        files = dict(m["files"])
        for tb in touched:
            files.pop(str(tb), None)
        for b_, fl in new_files.items():
            files[b_] = fl
        m["files"] = files
        m["segments"] = []
        self._commit(base, m)
        return {
            "skipped": False,
            "version": m["version"],
            "touched_buckets": len(touched),
        }

    def delete_where_keys(
        self,
        keys_df: DataFrame,
        scope_keys: list[str],
        batch_id: int | None = None,
        writer_id: str = "default",
    ) -> dict:
        """Tombstone apply: delete every row matching the key set —
        the reference wipes matching rows from all topic tables
        (``JdbcDbWriter.java:130-198``).

        Commits a replace segment of keys-only delete markers (the
        scope keys, ``__bucket`` and ``__mor_del = true``): O(keys) IO,
        base files untouched.  The other columns are absent from the
        marker files and read as null under the table's explicit
        schema, non-nullable ones included; reconcile drops marker
        rows, so those nulls never reach a reader or ``compact()``."""
        scope = list(scope_keys)
        markers = keys_df.select(*scope).distinct().select(
            *scope,
            self._bucket_expr(scope).alias(BUCKET_COL),
            F.lit(True).alias(MOR_DELETE_COL),
        )
        part = SegmentPart(self, markers, "replace", scope, writer_id)
        return write_segments([part], batch_id)[0]

    # ----------------------------------------------------------- evolution
    def evolve_schema(self, new_schema: T.StructType) -> list[str]:
        """Additive evolution (auto-evolve, ``DbStructure.java:127-234``).

        Extra existing columns are tolerated; missing-in-table columns
        are added if nullable, else rejected (same rule as
        ``DbStructure.java:177-187``).  Case-insensitive matching as in
        ``DbStructure.java:236-281``.
        """
        base = self._current_version()
        m = self.manifest()
        cur = T.StructType.fromJson(json.loads(m["schema"]))
        have = {f.name.lower() for f in cur.fields}
        added = []
        fields = list(cur.fields)
        for f in new_schema.fields:
            if f.name.lower() in have:
                continue
            if not f.nullable:
                raise SchemaEvolutionError(
                    f"cannot add non-optional column {f.name!r} without a "
                    "default (DbStructure.java:177-187)"
                )
            fields.append(f)
            added.append(f.name)
        if added:
            m["schema"] = T.StructType(fields).json()
            self._commit(base, m)
        return added

    # -------------------------------------------------------------- maint
    def vacuum(self, retain_last: int = 1) -> int:
        """Delete data files unreferenced by the ``retain_last`` newest
        snapshots (default 1 = current only — Iceberg's
        ``expire_snapshots``).  Versions inside the retention window
        stay time-travel-readable after the vacuum.

        Under ``data/`` only live parquet files and their ``.crc``
        sidecars survive, so a commit or staging dir holding no live
        parquet goes wholesale.  Returns the number of parquet files
        removed."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        cur = self._current_version()
        live: set[str] = set()
        for v in range(max(0, cur - int(retain_last) + 1), cur + 1):
            try:
                m = self.manifest(v)
            except ValueError:
                continue
            live |= {os.path.abspath(p) for p in _data_files(m)}
        keep = live | {
            os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
            for p in live
        }
        removed = 0
        for root, _dirs, fs in os.walk(self._data_dir, topdown=False):
            for f in fs:
                p = os.path.abspath(os.path.join(root, f))
                if p not in keep:
                    os.remove(p)
                    removed += f.endswith(".parquet")
            if root != self._data_dir and not os.listdir(root):
                os.rmdir(root)
        return removed


class SegmentPart(NamedTuple):
    """One table's share of a ``write_segments`` call: segment rows
    (from ``LakeTable.segment_rows``, or keys-only delete markers) and
    how to commit them."""

    table: LakeTable
    rows: DataFrame
    mode: str
    scope: list[str]
    writer_id: str


def write_segments(parts: list[SegmentPart], batch_id: int | None) -> list[dict]:
    """The one segment writer: write every part's rows as a delta
    segment of its table and commit them; returns one stats dict per
    part.

    1. Parts whose writer already committed ``batch_id`` are dropped
       before any file is written, so a replay after a crash between
       two tables' commits rewrites only the tables that did not
       commit.
    2. Every remaining part's scope is checked against its table's
       bucket layout before anything is written.
    3. ``write_files`` writes each group of type-compatible parts in
       one Spark job into a staging dir,
    4. and renames each part's slice into its table's ``data/``.
    5. Each table's ``commit_segment`` runs, in part order.
    """
    stats = [{"skipped": True, "reason": "batch already committed"} for _ in parts]
    todo = []
    for i, p in enumerate(parts):
        m = p.table.manifest()
        if not p.table._is_committed(batch_id, p.writer_id, m):
            p.table._check_layout_scope(p.scope, m)
            todo.append(i)
    files = write_files([(parts[i].table, parts[i].rows) for i in todo])
    for i, fl in zip(todo, files):
        p = parts[i]
        stats[i] = p.table.commit_segment(fl, p.mode, p.scope, batch_id, p.writer_id)
    return stats


def write_files(
    parts: list[tuple[LakeTable, DataFrame]], base: bool = False
) -> list[dict[str, list[str]]]:
    """The file half of ``write_segments``: write each ``(table, rows)``
    part (rows carry ``__bucket``) into ``<table>/data/commit-<id>/``;
    returns each part's bucket→files map.

    Two layouts, because segments and base files are replaced
    differently:

    * **segment** (default) — a part's files sit directly in its commit
      dir, rows sorted by ``__bucket`` inside each file.  A trickle
      batch coalesces into one task, i.e. one file per table; a large
      batch writes several files per table, no two sharing a bucket.
      Each bucket the part holds maps to all of the part's files, so
      ``read(buckets=…)`` filters by ``__bucket`` after the scan.  A
      segment is only ever dropped whole (``compact`` folds every
      segment), so mixing buckets in one file costs nothing there,
      and it saves opening, committing and renaming a file per bucket.
    * **base** (``base=True``: ``compact``, ``overwrite``) — one
      ``__bucket_p=<b>/`` dir per bucket.  Bucket-scoped compaction
      replaces base files one bucket at a time, which a file holding
      several buckets would not allow.  The bucket is duplicated into
      that partition column; the data column stays in the files, which
      reads address by explicit file lists that bypass partition
      discovery.

    Parts are grouped so that a column name two parts of a group share
    has ONE type: ``unionByName`` silently widens compatible numerics
    (int ∪ long → long), and widened parquet is unreadable under the
    table's explicit narrower schema.  Each group is one Spark job,
    repartitioned by (part index, bucket) and partitioned by part
    index into a staging dir inside the first part's ``data/``; each
    part's slice then moves into its table with one ``os.rename``.
    The staging dir is removed whether or not the write succeeds."""
    out: list[dict[str, list[str]]] = [{} for _ in parts]
    if not parts:
        return out
    cid = uuid.uuid4().hex[:12]
    staging = os.path.join(parts[0][0]._data_dir, f"staging-{cid}")
    groups: list[tuple[dict, list[int]]] = []
    for i, (_t, rows) in enumerate(parts):
        types = {f.name: f.dataType for f in rows.schema.fields}
        for g_types, members in groups:
            if all(g_types.get(c, dt) == dt for c, dt in types.items()):
                g_types.update(types)
                members.append(i)
                break
        else:
            groups.append((types, [i]))
    bucket_p = BUCKET_COL + "_p"
    try:
        for g, (_types, members) in enumerate(groups):
            gdir = os.path.join(staging, str(g))
            rows = functools.reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                [parts[i][1].withColumn(PART_COL, F.lit(i)) for i in members],
            )
            if base:
                rows = rows.withColumn(bucket_p, F.col(BUCKET_COL))
            rows = rows.repartition(F.col(PART_COL), F.col(BUCKET_COL))
            if base:
                rows.write.partitionBy(PART_COL, bucket_p).parquet(gdir)
            else:
                # the (part, bucket) pairs ride the write job as metrics
                held = Observation()
                (
                    rows.sortWithinPartitions(PART_COL, BUCKET_COL)
                    .observe(held, F.collect_set(F.struct(PART_COL, BUCKET_COL)).alias("pb"))
                    .write.partitionBy(PART_COL)
                    .parquet(gdir)
                )
                buckets_of: dict[int, list[str]] = {}
                for i, b in sorted(held.get["pb"]):
                    buckets_of.setdefault(i, []).append(str(b))
            for entry in os.listdir(gdir):
                if not entry.startswith(f"{PART_COL}="):
                    continue
                i = int(entry.split("=", 1)[1])
                if i not in members:
                    raise RuntimeError(
                        f"write produced partition {entry!r} matching no part of "
                        f"{members} — refusing to commit a segment that would "
                        "orphan its files"
                    )
                cdir = os.path.join(parts[i][0]._data_dir, f"commit-{cid}")
                os.rename(os.path.join(gdir, entry), cdir)
                if base:
                    for bdir in os.listdir(cdir):
                        fl = os.listdir(os.path.join(cdir, bdir))
                        out[i][bdir.split("=", 1)[1]] = [
                            os.path.join(cdir, bdir, f) for f in fl if f.endswith(".parquet")
                        ]
                else:
                    fl = [
                        os.path.join(cdir, f)
                        for f in sorted(os.listdir(cdir)) if f.endswith(".parquet")
                    ]
                    out[i] = {b: fl for b in buckets_of[i]}
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out
