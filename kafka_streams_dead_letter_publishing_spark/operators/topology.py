"""The dead-letter topology as a pure DataFrame → DataFrames function.

This is the engine core (SURVEY §2 ops #2–#10, §3.3): one function
``route(df, cfg)`` taking a Kafka-source-shaped DataFrame and returning the
four sink-shaped DataFrames (output + three dead-letter channels).  Because
it is a pure function of Column expressions it runs identically on

* a batch DataFrame built from fixtures (unit tier — the analogue of the
  reference's ``TopologyTestDriver`` tests),
* a duckdb-oracle batch derived from /root/testdata (correctness tier),
* each micro-batch inside ``foreachBatch`` (streaming tier).

Reference topology being reproduced
(``topology/ErrorHandlingTopology.java:28-45``)::

    input ─deserialize(String,Integer)─ mapValues(wrap) ─ split(hasError)
        ├─ error:   processValues(ErrorMessageMapper) → process-exception.DLT
        └─ default: mapValues(mappedValue)            → output

plus the two handler channels that sit outside the topology in the
reference: consumer-side deserialization failures
(``DeadLetterDeserializationExceptionHandler.java:29-49``) and producer-side
failures with too-large truncation
(``DeadLetterProductionExceptionHandler.java:26-45,59-67``).

Dead-letter record contract (SURVEY §2 "contract", pinned by the reference
tests): value = original/raw payload (empty for too-large production
errors), key unchanged, existing headers preserved, ``error.message`` header
appended (``"<class>: <message>"`` on the topology path, bare message on the
handler paths).

Scale posture: every channel is selects/filters off one shared scan — no
shuffle, no UDF, full whole-stage codegen; per-partition order is preserved
because nothing repartitions between decode and sink (SURVEY §3.4).  The
routing decision is made once per record, as a label over FLAT columns
(decoded int, error class, declared length) in one persisted staging
frame, and each channel is an equality filter on that label — so the
source is read once per batch, and only the output sink pays for string
generation, only for records that will actually be produced (too-large
records are size-checked on the *declared* length and never materialized).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.config import RECORD_OVERHEAD, EngineConfig
from kafka_streams_dead_letter_publishing_spark.operators.headers import (
    append_error_header,
    empty_headers,
)
from kafka_streams_dead_letter_publishing_spark.operators.mapper import (
    error_header_text,
    map_error_class,
    map_error_message,
    random_lowercase_string,
)
from kafka_streams_dead_letter_publishing_spark.serde import (
    int32_deser_error_message,
    int32be_decode,
    int32be_encode,
    utf8_encode,
)

#: Routed's channel fields, in declaration order; route() labels each staged
#: row with its channel's POSITION here (an int: cheap to cache and filter,
#: and immune to two channels sharing a topic name)
_CHANNELS = ("output", "process_dlt", "deser_dlt", "prod_dlt")
_LABEL = "__channel"


class Routed(NamedTuple):
    """The four sink-shaped streams (key/value binary, headers, topic)."""

    output: DataFrame
    process_dlt: DataFrame
    deser_dlt: DataFrame
    prod_dlt: DataFrame
    #: the persisted staging frame (decoded value + channel label) that all
    #: four channels filter; whoever runs the channels owns
    #: ``staged.unpersist()`` once they are written
    staged: DataFrame

    def union_all(self) -> DataFrame:
        """All channels as one DataFrame (inspection/testing)."""
        return (
            self.output.unionByName(self.process_dlt)
            .unionByName(self.deser_dlt)
            .unionByName(self.prod_dlt)
        )

    def channel_counts(self) -> dict[str, int]:
        """Rows per channel, keyed by field name (zero-row channels report
        0): one global aggregate of conditional counts over the cached
        label — after the channel writes it reads only the staged cache."""
        label = F.col(_LABEL)
        row = self.staged.agg(
            *(F.count(F.when(label == i, 1)).alias(c) for i, c in enumerate(_CHANNELS))
        ).first()
        return row.asDict()


def _sink_shape(df: DataFrame, key: Column, value: Column, headers: Column, topic: str) -> DataFrame:
    return df.select(
        key.alias("key"),
        value.alias("value"),
        headers.alias("headers"),
        F.lit(topic).alias("topic"),
    )


def serialized_record_size(value_len: Column, key: Column) -> Column:
    """Estimated full serialized record size, as the Kafka producer counts it
    for ``max.request.size``: value + key + framing overhead (see
    ``config.RECORD_OVERHEAD``)."""
    return value_len + F.coalesce(F.length(key), F.lit(0)) + F.lit(RECORD_OVERHEAD)


def too_large_message(size: Column, max_request_size: int) -> Column:
    """Shape-faithful analogue of Kafka's ``RecordTooLargeException`` text,
    pinned by ``ErrorHandlingTopologyIntegrationTest.java:119-121``."""
    return F.concat(
        F.lit("The message is "),
        size.cast("string"),
        F.lit(" bytes when serialized which is larger than "),
        F.lit(str(max_request_size)),
        F.lit(", which is the value of the max.request.size configuration."),
    )


def _channel(n: Column, value: Column, key: Column, cfg: EngineConfig, labels) -> Column:
    """Each record's channel — the routing decision, written once: deser →
    process-error → too-large → output.  ``n`` is the decoded value;
    ``labels`` names the four channels in ``_CHANNELS`` order."""
    output, process, deser, prod = (F.lit(x) for x in labels)
    too_large = serialized_record_size(n.cast("long"), key) > F.lit(cfg.max_request_size)
    return (
        # op #9: decode failure on a present value ⇒ deser channel
        F.when(n.isNull() & value.isNotNull(), deser)
        # op #3/#5: the mapper's failure modes ⇒ process channel
        .when(map_error_class(n, value).isNotNull(), process)
        # op #10: mapped length == n by construction, so the size check
        # needs no materialized string
        .when(too_large, prod)
        .otherwise(output)
    )


def route_topic_label(df: DataFrame, cfg: EngineConfig | None = None) -> DataFrame:
    """Single-pass routing DECISION: each record labeled with the topic
    ``route`` would send it to, without materializing the four channels —
    a projection of the same ``_channel`` decision ``route`` filters on.
    Use for routing counts and monitoring where a 4-way union would re-scan
    the source once per channel.
    """
    cfg = cfg or EngineConfig()
    key, value = F.col("key"), F.col("value")
    decoded = df.withColumn("__n", int32be_decode(value))
    topics = (cfg.output_topic, cfg.process_dlt, cfg.deser_dlt, cfg.prod_dlt)
    return decoded.select(_channel(F.col("__n"), value, key, cfg, topics).alias("topic"))


def route(df: DataFrame, cfg: EngineConfig | None = None) -> Routed:
    """Run the full dead-letter topology over a Kafka-source-shaped batch.

    ``df`` must have ``key: binary``, ``value: binary`` and may have
    ``headers: array<struct<key string, value binary>>`` plus the usual
    source metadata (topic/partition/offset) — metadata, when present, seeds
    the deterministic random generator so repeated records decorrelate.
    """
    cfg = cfg or EngineConfig()

    cols = set(df.columns)
    if "headers" not in cols:
        df = df.withColumn("headers", empty_headers())
    uniq_parts = [F.col(c) for c in ("topic", "partition", "offset") if c in cols]
    # materialized as a column: the generator's per-block lambda references
    # it once per 12 output chars (CHARS_PER_HASH), and higher-order
    # functions re-evaluate inlined (non-attribute) expressions on every
    # reference
    df = df.withColumn("__uniq", F.xxhash64(F.col("key"), *uniq_parts))
    uniq = F.col("__uniq")

    key, value, headers = F.col("key"), F.col("value"), F.col("headers")

    # ── op #2: typed decode, then the one routing decision per record ────
    n = F.col("__n")
    # PERSIST the staging (r17, measured from the channel-query plans): the
    # channel filters otherwise push BELOW the staged projections — and
    # below any upstream repartition — where Catalyst re-inlines the full
    # decode chain into each filter condition.  Filters cannot push below
    # an InMemoryRelation, so the decode and the routing decision run once,
    # at session parallelism, and each channel is an equality filter on
    # the cached label.  Nothing unpins this cache on its own (the
    # CacheManager holds it): whoever runs the channels owns
    # ``staged.unpersist()``.
    staged = (
        df.withColumn("__n", int32be_decode(value))
        .withColumn(_LABEL, _channel(n, value, key, cfg, range(len(_CHANNELS))))
        .persist()
    )

    def channel(name: str) -> DataFrame:
        return staged.filter(F.col(_LABEL) == _CHANNELS.index(name))

    deser_dlt = _sink_shape(
        channel("deser_dlt"),
        key,
        value,  # raw bytes untouched (DeadLetterDeserializationExceptionHandler.java:38)
        append_error_header(headers, int32_deser_error_message(value)),
        cfg.deser_dlt,
    )

    # ── op #5/#6: error branch restores the ORIGINAL value and appends
    #    "<class>: <message>" (ErrorMessageMapper) ────────────────────────
    process_dlt = _sink_shape(
        channel("process_dlt"),
        key,
        int32be_encode(n),  # original, pre-map value
        append_error_header(
            headers, error_header_text(map_error_class(n, value), map_error_message(n, value))
        ),
        cfg.process_dlt,
    )

    # ── op #10: pre-flight production guard — Spark's Kafka sink has no
    #    post-hoc producer hook, so the size check runs before the write;
    #    too-large values are truncated to EMPTY (not null) bytes and the
    #    oversized string is NEVER generated
    #    (DeadLetterProductionExceptionHandler.java:59-67) ─────────────────
    prod_dlt = _sink_shape(
        channel("prod_dlt"),
        key,
        F.lit(b""),
        append_error_header(
            headers,
            too_large_message(serialized_record_size(n.cast("long"), key), cfg.max_request_size),
        ),
        cfg.prod_dlt,
    )

    # ── op #4/#7/#8: generate + typed serialize, output sink only ────────
    output = _sink_shape(
        channel("output"),
        key,
        utf8_encode(random_lowercase_string(n, uniq, cfg.seed)),
        headers,
        cfg.output_topic,
    )

    return Routed(
        output=output,
        process_dlt=process_dlt,
        deser_dlt=deser_dlt,
        prod_dlt=prod_dlt,
        staged=staged,
    )
