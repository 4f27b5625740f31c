"""Structured Streaming wrapper: one query, four sinks, fail-stop semantics.

Reference runtime being reproduced (SURVEY §3):

* ``@EnableKafkaStreams`` bootstrap → here ``run_stream`` builds the
  ``readStream`` Kafka source and starts one streaming query.
* Per-record depth-first processing → here micro-batches through the pure
  ``route()`` topology inside ``foreachBatch`` (the only way a single query
  fans out to multiple Kafka topics).
* ``StreamsUncaughtExceptionHandler → SHUTDOWN_APPLICATION`` (reference
  ``errorhandling/UncaughtExceptionHandlerConfig.java:19``; rationale
  ``README.md:31``: never auto-restart, bound duplicates) → any exception in
  the batch (including a failure to publish a dead letter) fails the query;
  ``await_and_reraise`` re-raises it from ``awaitTermination`` and nothing
  restarts the query.

Delivery semantics: at-least-once, same as the reference (its DLT handler
producers sit outside Kafka Streams transactions; our checkpointed offsets
re-attempt a failed batch on restart).  Per-partition input order is
preserved on the happy path because ``route`` never repartitions — unless
``EngineConfig.batch_fan_out`` is set, which trades that order for
cluster-parallel generation on under-partitioned batches.

Scale posture (SURVEY §4.3): ``maxOffsetsPerTrigger`` bounds a micro-batch
(backpressure), ``minPartitions`` lets a 1000-executor cluster split hot
topic partitions, and ``route`` persists one staging frame per micro-batch
that all four sinks read instead of four source scans.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

_LOG = logging.getLogger(__name__)

from kafka_streams_dead_letter_publishing_spark.config import EngineConfig
from kafka_streams_dead_letter_publishing_spark.operators.topology import Routed, route

#: Sink contract: ``write(df, topic)`` publishes ``df`` to ``topic``.
#:
#: THREAD-SAFETY (r4 ADVICE): ``process_batch`` submits the three DLT
#: writes from a thread pool (concurrent Spark jobs), so ``write`` may be
#: invoked from up to 3 threads at once and MUST be reentrant — plain
#: ``df.write`` sinks are (Spark job submission is thread-safe), but a sink
#: wrapping shared mutable state (one producer handle, an appending test
#: list) must synchronize internally or be wrapped with
#: ``serialize_sink_writer`` below, which restores the pre-r4 sequential
#: contract with one lock.
SinkWriter = Callable[[DataFrame, str], None]


def serialize_sink_writer(sink: SinkWriter) -> SinkWriter:
    """Wrap a non-thread-safe ``SinkWriter`` with a lock so the concurrent
    DLT writes in ``process_batch`` serialize (opt-out of concurrency for
    sinks written against the sequential contract)."""
    import threading

    lock = threading.Lock()

    def write(df: DataFrame, topic: str) -> None:
        with lock:
            sink(df, topic)

    return write


def kafka_source(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    """``spark.readStream.format("kafka")`` with headers, matching the
    reference's consumer edge (``ErrorHandlingTopology.java:30``)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.bootstrap_servers)
        .option("subscribe", cfg.input_topic)
        .option("includeHeaders", "true")
        .option("startingOffsets", "earliest")
        # fail-stop, not silently-skip, if offsets were aged out — the
        # reference never silently drops records
        .option("failOnDataLoss", "true")
    )
    if cfg.max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(cfg.max_offsets_per_trigger))
    if cfg.min_partitions:
        reader = reader.option("minPartitions", str(cfg.min_partitions))
    for k, v in cfg.extra_kafka_options.items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_sink_writer(cfg: EngineConfig) -> SinkWriter:
    """Writer publishing a sink-shaped DataFrame to its Kafka topic.

    A raised exception here (e.g. DLT publish failure) propagates out of
    ``foreachBatch`` → the query dies → ``FAIL``/``SHUTDOWN_APPLICATION``
    semantics (``DeadLetterDeserializationExceptionHandler.java:47``).

    HONESTY NOTE: this container has no Kafka broker, so this exact writer
    has never executed against one — the integration tier substitutes
    ``parquet_sink_writer`` over the byte-identical sink-shaped DataFrames
    (``tests/test_streaming.py``).  The column contract (key/value binary,
    headers array, topic string) is the documented Spark Kafka sink schema;
    wire-level behavior (serialization, max.request.size enforcement) is
    pinned logically by the pre-flight guard tests instead.  (Re-verified
    r12: a docker CLIENT exists at /usr/local/bin/docker but `docker info`
    reports no daemon at /var/run/docker.sock; no spark-sql-kafka
    connector jars under pyspark/jars or /opt/spark/jars, no kafka
    distribution, no kafka-python/confluent_kafka.)
    """

    def write(df: DataFrame, topic: str) -> None:
        (
            df.select("key", "value", "headers")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", cfg.bootstrap_servers)
            .option("kafka.max.request.size", str(cfg.max_request_size))
            .option("includeHeaders", "true")
            # the SinkWriter ARGUMENT is authoritative (Spark's Kafka sink
            # 'topic' option overrides any topic column) — this keeps the
            # production path routing exactly like parquet_sink_writer,
            # which writes to base_dir/{topic-arg}; routing by the df's
            # column would let a custom topology's wrong/NULL topic column
            # diverge from everything the integration tier tests
            .option("topic", topic)
            .save()
        )

    return write


def parquet_sink_writer(base_dir: str) -> SinkWriter:
    """Broker-free sink for integration tests / local runs: one parquet
    directory per topic."""

    def write(df: DataFrame, topic: str) -> None:
        df.write.mode("append").parquet(f"{base_dir}/{topic}")

    return write


#: metrics callback: (batch_id, {topic: routed_record_count})
MetricsHook = Callable[[int, dict[str, int]], None]


class DeadLetterStream:
    """Composes source → pure topology → four sinks into one streaming query."""

    def __init__(
        self,
        cfg: EngineConfig,
        sink: SinkWriter,
        topology: Callable[[DataFrame, EngineConfig], Routed] = route,
        metrics: MetricsHook | None = None,
    ) -> None:
        self.cfg = cfg
        self.sink = sink
        self.topology = topology
        self.metrics = metrics

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """The foreachBatch body — also callable directly on a batch
        DataFrame (unit tier).  The four sink writes share one read of the
        micro-batch through ``route``'s persisted staging frame (SURVEY
        §4.2 "single read, multi-sink"), which this method unpersists."""
        if self.cfg.batch_fan_out:
            # spread the RAW records before decode/generation (guide §2/§8:
            # move light rows, then compute heavy bytes in place) — an
            # under-partitioned batch otherwise runs the whole generation
            # stage on one core.  Opt-in: costs per-partition input order
            # (see EngineConfig.batch_fan_out).
            batch = batch.repartition(self.cfg.batch_fan_out)
        routed = self.topology(batch, self.cfg)
        try:
            channels = [
                ("deser_dlt", self.cfg.deser_dlt),
                ("process_dlt", self.cfg.process_dlt),
                ("prod_dlt", self.cfg.prod_dlt),
                ("output", self.cfg.output_topic),
            ]
            # Dead letters first: if a DLT publish fails we die *before*
            # emitting output, bounding duplicate output records on retry —
            # same motivation as the reference's shutdown-on-DLT-failure.
            # The three DLT writes have no cross-channel ordering contract,
            # so they run as CONCURRENT Spark jobs (each channel is small;
            # sequential writes leave the cluster idle between job
            # submissions) — output still waits for all dead letters.
            with ThreadPoolExecutor(max_workers=3) as pool:
                futures = [
                    pool.submit(self.sink, getattr(routed, name), topic)
                    for name, topic in channels[:3]
                ]
                for f in futures:
                    f.result()  # re-raises the first DLT failure: fail-stop
            self.sink(routed.output, self.cfg.output_topic)
            if self.metrics is not None:
                # the engine's analogue of the reference handlers'
                # per-failure logging
                # (DeadLetterDeserializationExceptionHandler.java:37)
                counts = routed.channel_counts()
                self.metrics(batch_id, {topic: counts[name] for name, topic in channels})
        finally:
            # the staged cache has no other owner: without this, one
            # InMemoryRelation per micro-batch stays pinned in the
            # CacheManager for the life of the stream
            routed.staged.unpersist()

    def start(self, source: DataFrame, trigger: dict[str, Any] | None = None) -> StreamingQuery:
        writer = (
            source.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.cfg.checkpoint_dir)
            .queryName(self.cfg.application_id)
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()


class TerminationLoggingListener(StreamingQueryListener):
    """Query-termination observability (SURVEY §2 op #11 parity polish).

    The reference's uncaught-exception handler LOGS the failure before
    shutting the application down
    (``errorhandling/UncaughtExceptionHandlerConfig.java:15-26``: "Exception
    … occurred. Shutting down the application" → SHUTDOWN_APPLICATION).  The
    Spark analogue is a ``StreamingQueryListener``: ``onQueryTerminated``
    fires exactly once per query death and carries the terminating
    exception string; combined with ``await_and_reraise`` (no restart loop)
    the behavior matches the reference — log, then stay down.

    Register with ``spark.streams.addListener(listener)``.  Events arrive on
    Spark's listener-bus thread, so ``terminated`` is populated
    asynchronously — tests poll it.
    """

    def __init__(self) -> None:
        #: (query_id, exception_message | None), appended per termination
        self.terminated: list[tuple[str, str | None]] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark API names
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        exc = event.exception
        self.terminated.append((str(event.id), exc))
        if exc is not None:
            _LOG.error(
                "Streaming query %s terminated with exception: %s — "
                "shutting down, no restart (SHUTDOWN_APPLICATION policy)",
                event.id,
                exc,
            )
        else:
            _LOG.info("Streaming query %s terminated cleanly", event.id)


def run_stream(
    spark: SparkSession,
    cfg: EngineConfig,
    sink: SinkWriter | None = None,
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Engine entrypoint: Kafka in → dead-letter topology → Kafka out."""
    stream = DeadLetterStream(cfg, sink or kafka_sink_writer(cfg))
    return stream.start(kafka_source(spark, cfg), trigger)


def await_and_reraise(query: StreamingQuery) -> None:
    """Block until the query ends; re-raise its exception — the engine's
    ``SHUTDOWN_APPLICATION`` policy: no catch-and-restart loop, ever."""
    query.awaitTermination()
