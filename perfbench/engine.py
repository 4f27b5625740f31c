"""Engine host: one Spark session driving the production dead-letter stream.

Started by ``run.py`` as its own process, so the engine's CPU and memory
are those of this process tree (this Python driver and its Spark JVM).  The
stream is the production path: ``DeadLetterStream.process_batch`` →
``route()`` → four ``parquet_sink_writer`` sinks, with ``EngineConfig()``
defaults.  Every timing is taken from outside the engine, through its
public injection points only: an instance-level wrapper around
``process_batch``, the ``topology=`` hook, the ``SinkWriter``, the query's
``StreamingQueryProgress`` and direct calls into the layer functions.

Inputs arrive only as files the generator writes.  The host asks
``run.py`` for each input set through a file handshake in the work
directory (``req-<phase>.json`` → ``ok-<phase>.json``), so the generator
stays a separate process on its own schedule.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procstat  # noqa: E402

#: query-start probes per run; setup_s takes their median
SETUP_PROBES = 6


class Handshake:
    """Ask ``run.py`` to generate one input set and wait for its answer."""

    def __init__(self, work: str, deadline: float) -> None:
        self.work = work
        self.deadline = deadline

    def request(self, phase: str, **req) -> dict:
        path = os.path.join(self.work, f"req-{phase}.json")
        with open(path + ".tmp", "w") as fh:
            json.dump(req, fh)
        os.rename(path + ".tmp", path)
        ok = os.path.join(self.work, f"ok-{phase}.json")
        while not os.path.exists(ok):
            if time.time() > self.deadline:
                raise TimeoutError(f"no input for phase {phase}")
            time.sleep(0.01)
        with open(ok) as fh:
            return json.load(fh)


class Recorder:
    """Spans and stamps of one pass, kept in memory until the run ends.

    Times are wall-clock seconds (``time.time()``), the clock the
    generator's due times and the query progress timestamps also use."""

    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.current_batch = -1
        self.first_accept: float | None = None
        self.batches: list[dict] = []
        self.routes: list[dict] = []
        # appended from the engine's DLT writer threads: list.append is atomic
        self.writes: list[dict] = []


def channel_names(cfg) -> dict[str, str]:
    return {
        cfg.output_topic: "output",
        cfg.process_dlt: "process_dlt",
        cfg.deser_dlt: "deser_dlt",
        cfg.prod_dlt: "prod_dlt",
    }


def faulty(fault: str, cfg):
    """A deliberately broken sink step for the gate's self-test: drop one
    dead-letter channel, or strip the appended ``error.message`` header."""
    from pyspark.sql import functions as F

    def apply(df, topic):
        if fault == "drop-channel" and topic == cfg.deser_dlt:
            return None
        if fault == "strip-header" and topic == cfg.process_dlt:
            return df.withColumn("headers", F.expr("slice(headers, 1, size(headers) - 1)"))
        return df

    return apply


def make_stream(cfg, sink_base: str, rec: Recorder, fault: str, spark):
    from kafka_streams_dead_letter_publishing_spark.operators.topology import route
    from kafka_streams_dead_letter_publishing_spark.streaming.runner import (
        DeadLetterStream,
        parquet_sink_writer,
    )

    names = channel_names(cfg)
    broken = faulty(fault, cfg) if fault != "none" else None

    def sink(df, topic):
        batch = rec.current_batch
        t0 = time.time()
        if broken is not None:
            df = broken(df, topic)
        if df is not None:
            # one directory per batch, so each published record can be
            # traced back to the write that published it
            parquet_sink_writer(os.path.join(sink_base, f"b{batch:06d}"))(df, topic)
        rec.writes.append({"batch": batch, "channel": names[topic], "start": t0, "end": time.time()})

    def topology(batch_df, c):
        t0 = time.time()
        routed = route(batch_df, c)
        rec.routes.append({"batch": rec.current_batch, "start": t0, "end": time.time()})
        return routed

    stream = DeadLetterStream(cfg, sink, topology=topology if rec.traced else route)
    inner = stream.process_batch
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def process_batch(df, batch_id):
        rec.current_batch = batch_id
        t0 = time.time()
        if rec.first_accept is None:
            rec.first_accept = t0
        jobs0 = scheduler.nextJobId() if rec.traced else 0
        inner(df, batch_id)
        end = time.time()
        jobs = scheduler.nextJobId() - jobs0 if rec.traced else 0
        rec.batches.append({"batch": batch_id, "start": t0, "end": end, "jobs": jobs})

    # instance attribute: DeadLetterStream.start hands self.process_batch
    # to foreachBatch, so the production start() runs the wrapper
    stream.process_batch = process_batch
    return stream


class Host:
    def __init__(self, args) -> None:
        from kafka_streams_dead_letter_publishing_spark.config import EngineConfig

        self.args = args
        self.work = args.work
        self.cfg = EngineConfig()
        self.spark = None
        self.hand = Handshake(args.work, args.deadline)
        self.workload = gen.WORKLOADS[args.workload]

    def session(self):
        from pyspark.sql import SparkSession

        w = self.work
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(w, d), exist_ok=True)
        self.spark = (
            SparkSession.builder.master(f"local[{self.args.cores}]")
            .appName("perfbench-dead-letter")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", self.args.heap)
            .config("spark.sql.shuffle.partitions", str(self.args.cores))
            .config("spark.local.dir", os.path.join(w, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(w, "warehouse"))
            .config(
                "spark.driver.extraJavaOptions",
                # the heap is committed and touched at start, so the
                # tree's RSS does not depend on when G1 chose to grow it
                f"-Djava.io.tmpdir={os.path.join(w, 'tmp')} -XX:-UsePerfData"
                f" -Xms{self.args.heap} -XX:+AlwaysPreTouch",
            )
            .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def start_query(self, name: str, src: str, rec: Recorder, trigger, max_files: int = 0):
        from kafka_streams_dead_letter_publishing_spark.sources.records import KAFKA_SOURCE_SCHEMA

        reader = self.spark.readStream.schema(KAFKA_SOURCE_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        base = os.path.join(self.work, name)
        cfg = dataclasses.replace(
            self.cfg, checkpoint_dir=os.path.join(base, "checkpoint"), application_id=f"perfbench-{name}"
        )
        stream = make_stream(cfg, os.path.join(base, "sink"), rec, self.args.fault, self.spark)
        source = reader.parquet(src)
        t0 = time.time()
        return stream.start(source, trigger), t0

    def drain(self, name: str, src: str, rec: Recorder, max_files: int, timeout: float):
        query, t0 = self.start_query(name, src, rec, {"availableNow": True}, max_files)
        done = query.awaitTermination(max(1.0, timeout))
        if not done:
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return query, t0

    def setup(self) -> dict:
        """Warm-up drain, then query-start probes.

        Each probe starts a query on a fresh checkpoint (query start →
        first record accepted is its sample) and drains four tiny files.
        For the open loop it drains them one per trigger, so the per-batch
        driver path reaches a steady JIT state before the measured pass;
        drains take them in one trigger, so the JIT's profile is not taught
        tiny batches before the large ones."""
        t = time.time()
        self.drain("warmup", os.path.join(self.work, "src-warmup"), Recorder(False), 0, 120)
        per_trigger = 1 if self.workload.mode == "schedule" else 0
        probes = []
        for i in range(SETUP_PROBES):
            rec = Recorder(False)
            _, t0 = self.drain(f"probe{i}", os.path.join(self.work, "src-probe"), rec, per_trigger, 60)
            probes.append(rec.first_accept - t0)
        return {"warmup_s": time.time() - t - sum(probes), "query_start_s": probes}

    def jvm_gc_ms(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def heap_pools(self):
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def run_pass(self, name: str, traced: bool) -> dict:
        """One measured pass over a freshly generated input set."""
        w = self.workload
        rec = Recorder(traced)
        src = os.path.join(self.work, f"src-{name}")
        os.makedirs(src, exist_ok=True)
        pools = self.heap_pools()
        for p in pools:
            p.resetPeakUsage()
        gc0 = self.jvm_gc_ms()
        if w.mode == "backlog":
            staged = self.hand.request(name, dir=src, mode="backlog")
            cpu0 = procstat.tree_cpu_seconds(os.getpid())
            query, t_start = self.drain(
                name, src, rec, w.files_per_trigger, self.hand.deadline - time.time()
            )
        else:
            cpu0 = procstat.tree_cpu_seconds(os.getpid())
            query, t_start = self.start_query(name, src, rec, None)
            staged = self.hand.request(name, dir=src, mode="schedule")
            # open loop: wait until every generated row went through a batch
            until = min(self.hand.deadline, time.time() + self.args.seconds + 60)
            while time.time() < until:
                if query.exception() is not None:
                    raise RuntimeError(str(query.exception()))
                if sum(p.numInputRows for p in query.recentProgress) >= staged["rows"]:
                    break
                # seldom: the poll shares the driver's interpreter and JVM
                # gateway with the batches it waits for
                time.sleep(0.5)
            query.stop()
        cpu1 = procstat.tree_cpu_seconds(os.getpid())
        return {
            "t_start": t_start,
            "rows": staged["rows"],
            "gen_log": staged["log"],
            "cpu_s": cpu1 - cpu0,
            "gc_ms": self.jvm_gc_ms() - gc0,
            "heap_peak_mb": sum(p.getPeakUsage().getUsed() for p in pools) / 2**20,
            "batches": rec.batches,
            "routes": rec.routes,
            "writes": rec.writes,
            "progress": [json.loads(p.json) for p in query.recentProgress],
            "sink": os.path.join(self.work, name, "sink"),
        }

    def slice_rate(self, name: str) -> dict:
        """Drain the speedup slice at this session's parallelism."""
        src = os.path.join(self.work, f"src-{name}")
        os.makedirs(src, exist_ok=True)
        staged = self.hand.request(name, dir=src, mode="backlog", slice=True)
        rec = Recorder(False)
        w = gen.slice_workload(self.args.workload)
        _, t0 = self.drain(name, src, rec, w.files_per_trigger, self.hand.deadline - time.time())
        end = max(x["end"] for x in rec.writes)
        return {"rows": staged["rows"], "seconds": end - t0, "rows_per_s": staged["rows"] / (end - t0)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench engine host")
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--heap", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--role", choices=("main", "slice"), default="main")
    ap.add_argument("--fault", default="none", choices=("none", "drop-channel", "strip-header"))
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--deadline", type=float, required=True)
    args = ap.parse_args(argv)

    host = Host(args)
    host.session()
    result: dict = {"session_s": time.time() - args.t_spawn}
    result["heap_max_mb"] = host.spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
    if args.role == "slice":
        # the single-core baseline: warmed like the main host, no probes
        t = time.time()
        host.drain("warmup-slice", os.path.join(host.work, "src-warmup"), Recorder(False), 0, 120)
        result["warmup_s"] = time.time() - t
        result["slice"] = host.slice_rate(f"slice{args.cores}")
    else:
        result.update(host.setup())
        result["passes"] = {"main": host.run_pass("main", traced=False)}
        if args.trace:
            import layers

            result["passes"]["traced"] = host.run_pass("traced", traced=True)
            result["layers"] = layers.micro_timings(
                host.spark, os.path.join(host.work, "src-main"), host.cfg.seed
            )
            result["slice"] = host.slice_rate(f"slice{args.cores}")
    host.spark.stop()
    with open(os.path.join(args.work, "result.json.tmp"), "w") as fh:
        json.dump(result, fh)
    os.rename(os.path.join(args.work, "result.json.tmp"), os.path.join(args.work, "result.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
