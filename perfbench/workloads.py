"""The benchmark's workloads.  Each is a closed loop with one caller:
every micro-batch starts after the previous one has committed.

A workload measures in *passes*.  A pass starts from an empty warehouse
and replays the whole generated feed, so its final turns table must
equal ``FINAL_STATE_SQL`` over the generated events; the run repeats
passes until its time is up.  Point lookups follow the commits of every
workload, so each reports read latency next to write latency.

``PARAMS`` holds every input parameter and every engine argument the
benchmark passes; ``TINY`` shrinks the inputs for the smoke test.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

PARAMS = {
    "stream_trickle": {
        "events": {
            "conversations": 600,
            "turns": {"dist": "uniform", "min": 2, "max": 8},
        },
        "lookups_per_pass": 16,
        "engine": {
            "write_changelog_chunks": {"n_chunks": 6},
            "StreamingIngest": {
                "n_buckets": 16,
                "max_files_per_trigger": 1,
                "compact_every": 3,
            },
            "run_available": {"timeout_sec": 150},
        },
    },
    "upsert_read_mix": {
        "events": {
            "conversations": 300,
            "turns": {"dist": "zipf", "exponent": 0.9, "max": 300},
        },
        "hot_lookups": 1,
        "cold_lookups": 2,
        "maintain_every": 3,
        "engine": {
            "CdcApplier": {"n_buckets": 16},
            "TablePoller": {
                "mode": "incrementing",
                "inc_col": "seq",
                "batch_max_rows": 600,
            },
        },
    },
}

# the warm-up of a set-up applies the envelopes with seq below this
WARM_SEQS = 100

TINY = {
    "stream_trickle": {"conversations": 30, "turns": {"dist": "uniform", "min": 2, "max": 4}},
    "upsert_read_mix": {"conversations": 30, "turns": {"dist": "zipf", "exponent": 0.9, "max": 40}},
}


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def turns_plan():
    from kafka_connect_jdbc_flatten_spark.plans import compile_flatten_plan
    from kafka_connect_jdbc_flatten_spark.sources.changelog import (
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config,
    )

    return compile_flatten_plan(
        TRANSCRIPT_KEY_SCHEMA,
        TRANSCRIPT_VALUE_SCHEMA,
        transcript_flatten_config(),
        value_record_name="Conversation",
        key_record_name="ConversationKey",
    )


class Workload:
    """Shared loop state: timed operations, lookups and failures."""

    name = ""

    def __init__(self, ctx, params: dict):
        self.ctx = ctx  # run.Context: spark, tracer, meter, dirs, seed
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.p = params
        self.plan = turns_plan()
        self.meter = ctx.meter
        self.batches: list[tuple[float, int]] = []  # (wall seconds, envelopes)
        self.reads: list[float] = []  # wall seconds per point lookup
        self.read_rounds: list[float] = []  # CPU seconds per lookup, per round
        # every write-path operation, maintenance included
        self.write = {"wall": 0.0, "cpu": 0.0}
        self.attempted = 0
        self.failed = 0
        self.passes = 0
        self.last_reads: dict[str, list] = {}
        self.lookup_keys: list[str] = []
        self.layer: dict[str, list] = {}
        self.pass_walls: list[tuple[bool, float]] = []  # (traced, seconds)
        self.traced_progress: list[dict] = []

    def run_pass(self) -> None:
        """One pass from an empty warehouse; its wall time is kept with
        whether it was traced (for ``trace.overhead_ratio``)."""
        t = time.perf_counter()
        self._pass()
        self.pass_walls.append((self.tracer.enabled, time.perf_counter() - t))
        self.passes += 1

    def files_live(self) -> int:
        m = self.final_lake_table().manifest()
        return sum(len(v) for v in m["files"].values()) + sum(
            len(v) for seg in m.get("segments", []) for v in seg["files"].values()
        )

    def final_lake_table(self):
        return self.applier.tables[self.ctx.turns_table]

    def final_table(self):
        return self.applier.read(self.ctx.turns_table)

    def finish(self) -> None:
        """After the loop: once-per-run operations."""

    # -- helpers -----------------------------------------------------
    def note(self, metric: str, value) -> None:
        self.layer.setdefault(metric, []).append(value)

    def count_errors(self, stats: dict) -> None:
        """``apply_batch`` reports a failed foreign-table fan-out as a
        per-table ``{"error": ...}`` entry instead of raising."""
        for st in stats.values():
            if isinstance(st, dict) and "error" in st:
                self.failed += 1

    def pick_keys(self, events_tbl, n_hot: int, n_cold: int) -> list[str]:
        """Seeded lookup keys: the ``n_hot`` longest conversations and
        ``n_cold`` others drawn at random."""
        users, counts = np.unique(events_tbl["user_id"].to_numpy(), return_counts=True)
        order = np.argsort(-counts, kind="stable")
        hot = [int(u) for u in users[order[:n_hot]]]
        rest = users[order[n_hot:]]
        rng = np.random.default_rng(self.ctx.seed + 1)
        cold = [int(u) for u in rng.choice(rest, size=min(n_cold, len(rest)), replace=False)]
        return [str(u) for u in hot + cold]

    def bucket_of(self, table) -> dict[str, int]:
        """Bucket of each lookup key, from the table's own layout
        (untimed; one tiny job)."""
        df = self.spark.createDataFrame([(k,) for k in self.lookup_keys], "conv_id string")
        with self.ctx.untimed():
            return {r["conv_id"]: r["__bucket"] for r in table.with_bucket(df).collect()}

    def lookups(self, table, keys: list[str]) -> None:
        """A round of point lookups: each a bucket-pruned snapshot read
        filtered to the key.  CPU is taken over the whole round, because
        one lookup is a few ticks of the kernel's CPU clock."""
        from kafka_connect_jdbc_flatten_spark.lake.table import SEQ_COL

        with self.meter.measure() as round_:
            for k in keys:
                b = self.buckets[k]
                m = table.manifest()
                self.note("open_segments", len(m.get("segments", [])))
                self.note(
                    "files_per_lookup",
                    len(m["files"].get(str(b), []))
                    + sum(len(s["files"].get(str(b), [])) for s in m.get("segments", [])),
                )
                self.attempted += 1
                with self.tracer.span("lake.table.read", key=k, bucket=b):
                    t = time.perf_counter()
                    rows = (
                        table.read(buckets=[b])
                        .filter(F.col("conv_id") == k)
                        .drop("__bucket", SEQ_COL)
                        .collect()
                    )
                    self.reads.append(time.perf_counter() - t)
                self.last_reads[k] = rows
        self.read_rounds.append(round_["cpu"] / len(keys))

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.ctx.scratch, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def add_write(self, m: dict) -> None:
        self.write["wall"] += m["wall"]
        self.write["cpu"] += m["cpu"]

    def warehouse_bytes(self) -> int:
        return tree_bytes(self.warehouse)

    def lww_flatten_probe(self, batch, n_rows: int) -> None:
        """Traced run only: the batch's LWW reduce and its flatten, each
        run standalone into a noop sink, outside any timed operation."""
        if not self.tracer.enabled:
            return
        from kafka_connect_jdbc_flatten_spark.operators.explode import flatten_table
        from kafka_connect_jdbc_flatten_spark.operators.lww import lww_reduce_auto

        spec = next(t for t in self.plan.tables if t.table_name == self.ctx.turns_table)
        with self.tracer.span("operators.lww.reduce") as s:
            t = time.perf_counter()
            reduced, _ = lww_reduce_auto(
                batch.select("key", "value", "op", "seq"), ["key"], ["seq"], n_rows=n_rows
            )
            reduced.write.format("noop").mode("overwrite").save()
            s["seconds"] = time.perf_counter() - t
        winners = reduced.count()
        upserts = reduced.filter(F.col("value").isNotNull() & (F.col("op") != "d"))
        flat = flatten_table(upserts, spec, carry_cols=("seq",))
        with self.tracer.span("operators.explode.flatten") as s:
            t = time.perf_counter()
            flat.write.format("noop").mode("overwrite").save()
            s["seconds"] = time.perf_counter() - t
        self.note("collapse_ratio", n_rows / max(winners, 1))
        self.note("rows_out", flat.count())
        reduced.unpersist()


class UpsertReadMix(Workload):
    """Zipf-sized conversations polled by ``TablePoller`` and applied
    batch by batch, with point lookups on hot and cold keys after every
    batch and ``maintain()`` every few batches."""

    name = "upsert_read_mix"

    def prepare(self):
        self.events_path, self.feed_path, self.n_events = self.ctx.feed_fixture(
            self.p["events"]
        )
        self.input_bytes = tree_bytes(self.feed_path)
        self.feed = self.spark.read.parquet(self.feed_path)
        import pyarrow.parquet as pq

        ev = pq.read_table(self.events_path, columns=["event_id", "user_id"])
        self.lookup_keys = self.pick_keys(ev, self.p["hot_lookups"], self.p["cold_lookups"])
        # every envelope's seq (events, then one tombstone per 10th user,
        # as sources.changelog derives them): a poll's event count is
        # the number of seqs its offset advanced over
        ids = ev["event_id"].to_numpy()
        users = np.unique(ev["user_id"].to_numpy())
        tombs = ids.max() + 1 + users[users % 10 == 7]
        self.seqs = np.sort(np.concatenate([ids, tombs]))

    def engine(self, wh):
        from kafka_connect_jdbc_flatten_spark.operators.merge import CdcApplier

        return CdcApplier(self.spark, wh, self.plan, **self.p["engine"]["CdcApplier"])

    def poller(self):
        from kafka_connect_jdbc_flatten_spark.sources.poller import TablePoller

        return TablePoller(**self.p["engine"]["TablePoller"])

    def warm_up(self):
        wh = self.fresh_dir("warm")
        ap = self.engine(wh)
        batch = next(self.poller().poll_all(self.feed.filter(F.col("seq") < WARM_SEQS)))
        ap.apply_batch(batch, batch_id=0)
        ap.read(self.ctx.turns_table).filter(F.col("conv_id") == self.lookup_keys[0]).collect()
        shutil.rmtree(wh, ignore_errors=True)

    def _pass(self):
        self.warehouse = self.fresh_dir("wh")
        with self.tracer.span("pass", n=self.passes):
            ap = self.engine(self.warehouse)
            table = ap.tables[self.ctx.turns_table]
            if self.passes == 0:
                self.buckets = self.bucket_of(table)
            poller = self.poller()
            polls = poller.poll_all(self.feed)
            self.version_after_maintain = table.manifest()["version"]
            i = 0
            while True:
                seen = poller.offset.get("incrementing", -1)
                self.attempted += 1
                with self.tracer.span("sources.poller.poll"):
                    with self.meter.measure() as poll:
                        batch = next(polls, None)
                self.add_write(poll)
                if batch is None:
                    break
                before = tree_bytes(self.warehouse)
                self.attempted += 1
                with self.tracer.span("operators.merge.apply_batch", batch=i):
                    with self.meter.measure() as apply:
                        stats = ap.apply_batch(batch, batch_id=i)
                self.add_write(apply)
                self.count_errors(stats)
                n = int(
                    np.searchsorted(self.seqs, poller.offset["incrementing"], "right")
                    - np.searchsorted(self.seqs, seen, "right")
                )
                if (i + 1) % self.p["maintain_every"] == 0:
                    self.attempted += 1
                    with self.tracer.span("operators.merge.maintain"):
                        with self.meter.measure() as maintain:
                            ap.maintain()
                    self.add_write(maintain)
                    self.note("maintain_s", maintain["wall"])
                    self.version_after_maintain = table.manifest()["version"]
                self.batches.append((poll["wall"] + apply["wall"], n))
                self.note("bytes_written_per_batch", tree_bytes(self.warehouse) - before)
                self.lookups(table, self.lookup_keys)
                self.lww_flatten_probe(batch, n)
                i += 1
        self.applier = ap

    def finish(self):
        """``read_changes`` once per run, from the version after the last
        ``maintain()`` (older snapshots have been vacuumed)."""
        v = self.version_after_maintain
        self.attempted += 1
        with self.tracer.span("lake.table.read_changes", from_version=v):
            with self.meter.measure() as m:
                self.final_lake_table().read_changes(v).count()
        self.note("read_changes_s", m["wall"])


class StreamTrickle(Workload):
    """Binlog chunk files consumed one file per trigger by
    ``StreamingIngest.run_available``, compacting every few triggers."""

    name = "stream_trickle"

    def prepare(self):
        self.events_path, self.chunk_dir, self.warm_dir, self.n_events = self.ctx.chunk_fixture(
            self.p["events"], self.p["engine"]["write_changelog_chunks"]["n_chunks"]
        )
        self.input_bytes = tree_bytes(self.chunk_dir)
        self.chunks = []  # (chunk DataFrame, envelopes) for the traced probes
        for name in sorted(os.listdir(self.chunk_dir)) if self.tracer.enabled else []:
            df = self.spark.read.parquet(os.path.join(self.chunk_dir, name))
            self.chunks.append((df, df.count()))
        import pyarrow.parquet as pq

        ev = pq.read_table(self.events_path, columns=["user_id"])
        self.lookup_keys = self.pick_keys(ev, 0, self.p["lookups_per_pass"])

    def engine(self, root, source):
        from kafka_connect_jdbc_flatten_spark.streaming.pipeline import StreamingIngest

        return StreamingIngest(
            self.spark,
            source,
            os.path.join(root, "wh"),
            self.plan,
            os.path.join(root, "ckpt"),
            **self.p["engine"]["StreamingIngest"],
        )

    def note_compaction(self, progress: list[dict]) -> None:
        """The engine compacts inside every ``compact_every``-th trigger;
        its cost is read off as that trigger's ``addBatch`` minus the
        median ``addBatch`` of the other triggers of the pass."""
        k = self.p["engine"]["StreamingIngest"]["compact_every"]
        add = [(p["batch_id"], p["duration_ms"].get("addBatch", 0) / 1000) for p in progress]
        plain = [s for b, s in add if (b + 1) % k]
        base = sorted(plain)[len(plain) // 2] if plain else 0.0
        for b, s in add:
            if (b + 1) % k == 0:
                self.note("maintain_s", s - base)

    def warm_up(self):
        root = self.fresh_dir("warm")
        ing = self.engine(root, self.warm_dir)
        ing.run_available(**self.p["engine"]["run_available"])
        ing.read(self.ctx.turns_table).filter(F.col("conv_id") == self.lookup_keys[0]).collect()
        shutil.rmtree(root, ignore_errors=True)

    def _pass(self):
        root = self.fresh_dir("stream")
        self.warehouse = os.path.join(root, "wh")
        listener = self.ctx.listener
        seen = len(listener.progress)
        with self.tracer.span("pass", n=self.passes):
            ing = self.engine(root, self.chunk_dir)
            table = ing.applier.tables[self.ctx.turns_table]
            if self.passes == 0:
                self.buckets = self.bucket_of(table)
            self.attempted += 1
            with self.tracer.span("streaming.pipeline.run_available"):
                with self.meter.measure() as run:
                    stats = ing.run_available(**self.p["engine"]["run_available"])
            # CPU of the whole catch-up run; wall of its triggers alone
            self.write["cpu"] += run["cpu"]
            for rec in stats:
                self.count_errors(rec["tables"])
            # a listener event can trail the query's stop by a moment
            deadline = time.time() + 5
            while len(listener.progress) - seen < len(stats) and time.time() < deadline:
                time.sleep(0.05)
            progress = [
                p for p in listener.progress[seen:] if p["rows"] > 0
            ]
            for p in progress:
                self.attempted += 1
                trigger_s = p["duration_ms"]["triggerExecution"] / 1000.0
                self.batches.append((trigger_s, p["rows"]))
                self.write["wall"] += trigger_s
            # net of the compactions inside the pass
            self.note("bytes_written_per_batch", self.warehouse_bytes() / max(len(progress), 1))
            self.lookups(table, self.lookup_keys)
            if self.tracer.enabled:
                self.traced_progress.extend(progress)
                self.note_compaction(progress)
                for chunk, n in self.chunks:
                    self.lww_flatten_probe(chunk, n)
        self.applier = ing.applier


WORKLOADS = {w.name: w for w in (StreamTrickle, UpsertReadMix)}
