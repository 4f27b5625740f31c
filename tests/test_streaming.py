"""Streaming-tier tests — no broker in this container, so the integration
smoke runs the real ``foreachBatch`` machinery over a file-based stream
(kafka-source-shaped parquet) with parquet sinks.  The topology code path is
byte-identical to the Kafka path; only source/sink formats differ.
"""

from __future__ import annotations

import time

import pytest

from kafka_streams_dead_letter_publishing_spark.config import EngineConfig
from kafka_streams_dead_letter_publishing_spark.sources.records import (
    KAFKA_SOURCE_SCHEMA,
    int32be,
    records_df,
)
from kafka_streams_dead_letter_publishing_spark.streaming.runner import (
    DeadLetterStream,
    TerminationLoggingListener,
    parquet_sink_writer,
)


def _await_no_backlog(query, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        query.processAllAvailable()
        return
    raise TimeoutError


def test_stream_routes_all_channels(spark, tmp_path):
    cfg = EngineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    src_dir = str(tmp_path / "src")
    sink_dir = str(tmp_path / "sinks")

    records_df(
        spark,
        [
            (b"k1", int32be(6)),
            (b"k2", int32be(-1)),
            (b"k3", b"oop"),
            (b"k4", int32be(2_000_000)),
        ],
    ).write.parquet(src_dir)

    source = spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(src_dir)
    stream = DeadLetterStream(cfg, parquet_sink_writer(sink_dir))
    query = stream.start(source)
    try:
        _await_no_backlog(query)
    finally:
        query.stop()

    out = spark.read.parquet(f"{sink_dir}/{cfg.output_topic}")
    assert out.count() == 1 and len(out.collect()[0].value) == 6
    proc = spark.read.parquet(f"{sink_dir}/{cfg.process_dlt}")
    assert proc.collect()[0].value == int32be(-1)
    deser = spark.read.parquet(f"{sink_dir}/{cfg.deser_dlt}")
    assert deser.collect()[0].value == b"oop"
    prod = spark.read.parquet(f"{sink_dir}/{cfg.prod_dlt}")
    assert prod.collect()[0].value == b""


def test_batch_fan_out_yields_identical_rows(spark, tmp_path):
    """EngineConfig.batch_fan_out repartitions the micro-batch before
    routing (r18 optimization: generation at cluster parallelism on
    under-partitioned batches).  Generation is deterministic in the ROW
    (uniq = xxhash64 of key + source metadata), never in its partition, so
    the routed output must be row-identical either way — only file layout
    and intra-file order may differ."""
    rows = [(f"k{i}".encode(), int32be(i % 97)) for i in range(500)]
    rows += [(b"bad", b"xx"), (b"neg", int32be(-5)), (b"big", int32be(3_000_000))]
    sinks = {}
    for tag, fan in (("plain", None), ("fanout", 7)):
        cfg = EngineConfig(
            checkpoint_dir=str(tmp_path / f"ckpt-{tag}"), batch_fan_out=fan
        )
        sink_dir = str(tmp_path / f"sinks-{tag}")
        stream = DeadLetterStream(cfg, parquet_sink_writer(sink_dir))
        stream.process_batch(records_df(spark, rows).coalesce(1), batch_id=0)
        sinks[tag] = {
            t: sorted(
                (r.key, r.value, tuple((h.key, bytes(h.value)) for h in (r.headers or [])))
                for r in spark.read.parquet(f"{sink_dir}/{t}").collect()
            )
            for t in cfg.all_topics[1:]
        }
    assert sinks["plain"] == sinks["fanout"]


def test_stream_resumes_from_checkpoint_exactly_once_per_record(spark, tmp_path):
    """Restarting against the same checkpoint must not re-route processed
    records (offset tracking replaces consumer-group commits)."""
    cfg = EngineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    src_dir = str(tmp_path / "src")
    sink_dir = str(tmp_path / "sinks")
    records_df(spark, [(b"k1", int32be(3))]).write.parquet(src_dir)

    source = spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(src_dir)
    stream = DeadLetterStream(cfg, parquet_sink_writer(sink_dir))
    q1 = stream.start(source)
    q1.processAllAvailable()
    q1.stop()

    # second run, same checkpoint: no new input ⇒ no new rows
    q2 = stream.start(spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(src_dir))
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(f"{sink_dir}/{cfg.output_topic}").count() == 1


def test_multi_batch_drive_leaves_no_cached_frames(spark, tmp_path):
    """route() persists one staging frame per micro-batch and nothing else
    caches the batch; process_batch must unpersist it in its finally — the
    r17 advice: an unowned cache per micro-batch is unbounded storage growth
    on a long-running stream.  Drive 4 real micro-batches, assert every
    sink write sees exactly ONE cache beyond the base, and the JVM cache
    registry ends exactly where it started."""
    cfg = EngineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    src_dir = str(tmp_path / "src")
    sink_dir = str(tmp_path / "sinks")
    def n_cached() -> int:
        # other session-scoped tests may legitimately hold caches — the
        # contract is "the drive adds none", not "the registry is empty"
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    parquet_sink = parquet_sink_writer(sink_dir)
    during_writes = []

    def counting_sink(df, topic):
        parquet_sink(df, topic)  # the write builds the batch's caches
        during_writes.append(n_cached())

    records_df(spark, [(b"k0", int32be(4))]).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    base_cached = n_cached()
    source = spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(src_dir)
    stream = DeadLetterStream(cfg, counting_sink)
    query = stream.start(source)
    try:
        query.processAllAvailable()
        for i in (1, 2, 3):
            records_df(spark, [(f"k{i}".encode(), int32be(4 + i))]).coalesce(
                1
            ).write.mode("append").parquet(src_dir)
            query.processAllAvailable()
    finally:
        query.stop()
    assert len(during_writes) == 4 * 4
    assert during_writes == [base_cached + 1] * len(during_writes)
    assert n_cached() == base_cached
    assert spark.read.parquet(f"{sink_dir}/{cfg.output_topic}").count() == 4


def test_empty_batch_is_harmless(spark, tmp_path):
    """Idle triggers deliver EMPTY micro-batches; the router must handle
    them without errors and without emitting rows."""
    cfg = EngineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    sink_dir = str(tmp_path / "sinks")
    written = []

    def recording_sink(df, topic):
        n = df.count()
        if n:
            written.append((topic, n))

    stream = DeadLetterStream(cfg, recording_sink)
    empty = records_df(spark, [(b"k", int32be(1))]).limit(0)
    stream.process_batch(empty, batch_id=0)
    assert written == []


def test_metrics_hook_reports_per_channel_counts(spark, tmp_path):
    """Every channel nonzero, and the hook agrees with route_topic_label."""
    from kafka_streams_dead_letter_publishing_spark.operators.topology import (
        route_topic_label,
    )

    cfg = EngineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    src_dir = str(tmp_path / "src")
    records = records_df(
        spark,
        [
            (b"k1", int32be(2)),
            (b"k2", int32be(9)),
            (b"k3", int32be(-1)),
            (b"k4", b"zz"),
            (b"k5", int32be(2_000_000)),  # too large
            (b"k6", None),  # NULL value: process channel
        ],
    )
    records.write.parquet(src_dir)

    seen: dict[int, dict[str, int]] = {}
    stream = DeadLetterStream(
        cfg,
        parquet_sink_writer(str(tmp_path / "sinks")),
        metrics=lambda bid, counts: seen.__setitem__(bid, counts),
    )
    q = stream.start(spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(src_dir))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    (counts,) = seen.values()
    assert counts[cfg.output_topic] == 2
    assert counts[cfg.process_dlt] == 2
    assert counts[cfg.deser_dlt] == 1
    assert counts[cfg.prod_dlt] == 1
    labels = route_topic_label(records, cfg).groupBy("topic").count().collect()
    assert counts == {r.topic: r["count"] for r in labels}


def test_metrics_survive_contract_violating_noop_sink(spark, tmp_path):
    """A SinkWriter that runs NO action over the frame must not hang or
    zero the metrics (r3 ADVICE): the counts come from route()'s staged
    label, not from the sink's jobs."""
    cfg = EngineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    seen: dict[int, dict[str, int]] = {}

    def noop_sink(df, topic):  # never executes an action
        pass

    stream = DeadLetterStream(
        cfg, noop_sink, metrics=lambda bid, counts: seen.__setitem__(bid, counts)
    )
    batch = records_df(
        spark, [(b"k1", int32be(2)), (b"k2", int32be(-1)), (b"k3", b"zz")]
    )
    stream.process_batch(batch, batch_id=7)  # must return, not hang

    assert seen[7][cfg.output_topic] == 1
    assert seen[7][cfg.process_dlt] == 1
    assert seen[7][cfg.deser_dlt] == 1
    assert seen[7][cfg.prod_dlt] == 0


def test_termination_listener_records_the_fatal_exception(spark, tmp_path):
    """SURVEY §2 op #11 observability parity: like the reference's uncaught
    handler (UncaughtExceptionHandlerConfig.java:15-26), the listener must
    log/record the terminating exception when the query dies."""
    listener = TerminationLoggingListener()
    spark.streams.addListener(listener)
    try:
        cfg = EngineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
        src_dir = str(tmp_path / "src")
        records_df(spark, [(b"k", int32be(1))]).write.parquet(src_dir)

        def failing_sink(df, topic):
            raise RuntimeError("broker unreachable")

        source = spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(src_dir)
        query = DeadLetterStream(cfg, failing_sink).start(source)
        with pytest.raises(Exception, match="broker unreachable"):
            query.processAllAvailable()

        # listener events arrive on Spark's listener-bus thread — poll
        deadline = time.time() + 30
        while time.time() < deadline and not listener.terminated:
            time.sleep(0.2)
        assert listener.terminated, "onQueryTerminated never fired"
        qid, exc = listener.terminated[-1]
        assert qid == str(query.id)
        assert exc is not None and "broker unreachable" in exc
    finally:
        spark.streams.removeListener(listener)


def test_sink_failure_fails_the_query(spark, tmp_path):
    """A dead-letter publish failure must kill the query (the reference's
    FAIL → SHUTDOWN_APPLICATION policy), not be swallowed."""
    cfg = EngineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    src_dir = str(tmp_path / "src")
    records_df(spark, [(b"k2", int32be(-1))]).write.parquet(src_dir)

    def failing_sink(df, topic):
        if topic == cfg.process_dlt and df.count() > 0:
            raise RuntimeError("broker unreachable")

    source = spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(src_dir)
    query = DeadLetterStream(cfg, failing_sink).start(source)
    with pytest.raises(Exception, match="broker unreachable"):
        query.processAllAvailable()
    assert not query.isActive


def test_serialize_sink_writer_serializes_concurrent_dlt_writes(spark):
    """r5 verdict #6: process_batch submits the three DLT writes from a
    thread pool, so a sink with shared mutable state needs
    serialize_sink_writer.  Drive process_batch with a deliberately
    non-thread-safe sink twice — bare (control: the race window really is
    concurrent) and wrapped (contract: the lock fully serializes it) — and
    assert the wrapper eliminates every interleaving."""
    import threading

    from kafka_streams_dead_letter_publishing_spark.streaming.runner import (
        serialize_sink_writer,
    )

    def make_unsafe_sink():
        state = {"in_crit": 0, "max_in_crit": 0, "calls": []}
        meter = threading.Lock()  # bookkeeping only — NOT protecting the sink

        def sink(df, topic):
            with meter:
                state["in_crit"] += 1
                state["max_in_crit"] = max(state["max_in_crit"], state["in_crit"])
            time.sleep(0.2)  # widen the race window across the 3 DLT threads
            df.count()  # a real Spark job inside the race window
            with meter:
                state["calls"].append(topic)
                state["in_crit"] -= 1

        return sink, state

    cfg = EngineConfig()
    batch = records_df(
        spark,
        [
            (b"k", int32be(7)),  # output
            (b"k", int32be(-1)),  # process DLT
            (b"k", b"xx"),  # deser DLT
            (b"k", int32be(2_000_000)),  # prod DLT (too large)
        ],
    )

    # control: without the wrapper the three DLT writes overlap
    bare, bare_state = make_unsafe_sink()
    DeadLetterStream(cfg, bare).process_batch(batch, 0)
    assert bare_state["max_in_crit"] >= 2, bare_state

    # contract: wrapped, the same sink never observes a second writer
    unsafe, state = make_unsafe_sink()
    DeadLetterStream(cfg, serialize_sink_writer(unsafe)).process_batch(batch, 1)
    assert state["max_in_crit"] == 1, state
    # all four channels wrote exactly once, dead letters before output
    assert len(state["calls"]) == 4
    assert sorted(state["calls"][:3]) == sorted(
        [cfg.deser_dlt, cfg.process_dlt, cfg.prod_dlt]
    )
    assert state["calls"][3] == cfg.output_topic
