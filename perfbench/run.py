"""CDC ingest benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Starts ``local[<nproc>]`` from this
one process through the package's ``session.get_spark`` defaults,
generates the workload's inputs from ``--seed``, measures passes of the
workload for ``--seconds``, checks the result against the DuckDB oracle
and prints one JSON object as the last line of standard output.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans around the benchmark's calls into the
engine.  Everything it writes goes under ``.bench_work/`` in the
checkout.  A gate failure exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
SETUP_REPS = 3


def _isolate_env(tmp: str) -> None:
    """Keep every temporary file of Python, Spark and the JVM under the
    checkout, and render timestamps in UTC on both sides of the gate."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


class Context:
    """What the workloads share: the session, the tracer, the run's
    directories and its fixtures."""

    def __init__(self, spark, tracer, meter, seed: int, listener):
        import __spark_entry__ as E

        self.spark = spark
        self.tracer = tracer
        self.meter = meter
        self.seed = seed
        self.listener = listener
        self.turns_table = E.TURNS_TABLE
        self.final_state_sql = E.FINAL_STATE_SQL
        self.scratch = os.path.join(WORK, "run")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)

    @contextlib.contextmanager
    def untimed(self):
        """Jobs the benchmark runs for itself, kept out of every span."""
        from spans import OWN_GROUP

        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(OWN_GROUP, "perfbench untimed")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    # -- fixtures: built in every run, never timed ---------------------
    # Not cached across runs: building the fixture also warms the JVM,
    # and runs that skipped it measured 10-25 % lower events_per_cpu_s.
    def _fixture_dir(self, kind: str) -> str:
        d = os.path.join(WORK, "fixtures", kind)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def _events(self, d: str, spec: dict) -> tuple[str, int]:
        import gen

        gen.write_events(d, self.seed, spec)
        import pyarrow.parquet as pq

        path = os.path.join(d, "events.parquet")
        return path, pq.ParquetFile(path).metadata.num_rows

    def feed_fixture(self, spec: dict) -> tuple[str, str, int]:
        """Generated events, and their envelope feed as parquet
        range-partitioned by ``seq``."""
        from kafka_connect_jdbc_flatten_spark.sources.changelog import transcript_changelog

        d = self._fixture_dir("feed")
        feed = os.path.join(d, "feed")
        path, n = self._events(d, spec)
        cl = transcript_changelog(self.spark, d)
        cl.repartitionByRange(self.spark.sparkContext.defaultParallelism, "seq").write.parquet(feed)
        return path, feed, n

    def chunk_fixture(self, spec: dict, n_chunks: int) -> tuple[str, str, str, int]:
        """Generated events, staged as seq-ordered binlog chunk files,
        plus a copy of the first chunk alone for warm-ups."""
        from kafka_connect_jdbc_flatten_spark.sources.changelog import (
            transcript_changelog,
            write_changelog_chunks,
        )

        d = self._fixture_dir("chunks")
        chunks = os.path.join(d, "chunks")
        warm = os.path.join(d, "warm")
        path, n = self._events(d, spec)
        paths = write_changelog_chunks(transcript_changelog(self.spark, d), chunks, n_chunks)
        shutil.copytree(paths[0], os.path.join(warm, os.path.basename(paths[0])))
        return path, chunks, warm, n


def _jvm(spark):
    return spark.sparkContext._jvm


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    pid = _jvm(spark).java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def gc_seconds(spark) -> float:
    beans = _jvm(spark).java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test inputs")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="corrupt the oracle's input; the gate must fail")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "kafka_connect_jdbc_flatten_spark")):
        print("run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    _isolate_env(os.path.join(WORK, "tmp"))

    import copy

    import oracle
    import workloads as W
    from spans import BASE_GROUP, Meter, Tracer, TriggerListener, fold_event_log

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    params = copy.deepcopy(W.PARAMS[args.workload])
    if args.size == "tiny":
        params["events"] = W.TINY[args.workload]

    from kafka_connect_jdbc_flatten_spark.session import get_spark

    extra = {}
    log_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir}

    t, c = time.perf_counter(), time.process_time()
    spark = get_spark("perfbench", cores=os.cpu_count(), extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        meter = Meter(spark)
        # the JVM was launched by get_spark: all its CPU so far is start-up
        session = {"wall": time.perf_counter() - t, "cpu": meter.cpu() - c}
        listener = TriggerListener()
        spark.streams.addListener(listener)
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark, tracer, meter, args.seed, listener)
        w = W.WORKLOADS[args.workload](ctx, params)
        with ctx.untimed():
            t = time.perf_counter()
            w.prepare()
            prepare_s = time.perf_counter() - t
            setups = []
            for _ in range(SETUP_REPS):
                with meter.measure() as m:
                    w.warm_up()
                setups.append(m)

        # Passes are whole (each ends in a state the oracle can check).
        # Another pass starts while the mean pass so far is expected to
        # end within --seconds; a traced run makes at least two, the
        # first untraced as the base of trace.overhead_ratio.
        gc0 = gc_seconds(spark)
        steal0, ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        while w.passes < (2 if args.trace else 1) or (
            (time.perf_counter() - t0) * (w.passes + 1) / w.passes <= args.seconds
        ):
            tracer.enabled = bool(args.trace) and w.passes > 0
            if args.trace:
                base = None if tracer.enabled else BASE_GROUP
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", base)
            w.run_pass()
        loop_s = time.perf_counter() - t0
        steal1, ticks1 = cpu_ticks()
        steal = (steal1 - steal0) / max(ticks1 - ticks0, 1)
        gc_s = gc_seconds(spark) - gc0
        w.finish()

        # ---- correctness gate (untimed) ----
        t = time.perf_counter()
        with ctx.untimed():
            got = oracle.arrow_hash(w.final_table().toArrow())
        want, want_keys = oracle.oracle_hashes(
            w.events_path, ctx.final_state_sql, list(w.last_reads), args.corrupt_oracle
        )
        oracle.check(f"{args.workload} final turns table", got, want)
        import pyarrow as pa

        for k, rows in w.last_reads.items():
            tbl = pa.Table.from_pylist([r.asDict() for r in rows]) if rows else None
            got_k = oracle.arrow_hash(tbl) if tbl is not None else (0, "0")
            oracle.check(f"{args.workload} lookup conv_id={k}", got_k, want_keys[k])

        check_s = time.perf_counter() - t
        rss = peak_rss_mb(spark)
        wh_bytes = w.warehouse_bytes()
        if args.trace:
            tracer.write(os.path.join(WORK, "trace", f"{args.workload}-{args.seed}.json"), t0)
    finally:
        stop_session(spark)

    events = sum(b[1] for b in w.batches)
    med = statistics.median
    measured = {
        # CPU seconds: the gated end-to-end figures (see README, Steadiness)
        "setup_s": session["cpu"] + med(m["cpu"] for m in setups),
        "events_per_cpu_s": events / w.write["cpu"],
        "read_cpu_s": med(w.read_rounds),
        "space_amp": wh_bytes / w.input_bytes,
        # wall seconds, as a caller sees them on this host
        "wall.setup_s": session["wall"] + med(m["wall"] for m in setups),
        "wall.events_per_s": events / w.write["wall"],
        "wall.batch_p50_s": med(b[0] for b in w.batches),
        "wall.read_p50_s": med(w.reads),
        "host.cpu_steal": steal,
        "process.peak_rss_mb": rss,
    }
    if args.trace:
        import layers

        metrics = layers.per_layer(w, tracer, fold_event_log(log_dir), gc_s)
        metrics.update(measured)
        declared = bench["per_layer"]
    else:
        metrics = measured
        declared = bench["end_to_end"]
    out = {
        "correct": True,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }
    print(
        f"# {args.workload} seed={args.seed}: {w.passes} passes, {len(w.batches)} batches, "
        f"{len(w.reads)} lookups, loop {loop_s:.1f} s, inputs {prepare_s:.1f} s, "
        f"gate {check_s:.1f} s, session {session}, setups {setups}, "
        f"passes {[round(p[1], 2) for p in w.pass_walls]}, "
        f"batches {[round(b[0], 2) for b in w.batches]}",
        file=sys.stderr,
    )
    print("# measured " + json.dumps(measured), file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # report and fail: never print a result
        import traceback

        traceback.print_exc()
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(1)
