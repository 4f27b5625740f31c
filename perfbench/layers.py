"""Layer micro-timings: the public layer functions on a workload's own records.

Each layer function is timed as a projection over the cached input records
written to Spark's ``noop`` sink (which computes every projected column and
discards it), minus the same scan projecting only the function's inputs.
The difference is the function's own cost, reported per row, or per
generated character for the mapper.
"""

from __future__ import annotations

import statistics
import time

#: timed repetitions per function; the median is reported
REPEATS = 3


def _noop_seconds(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _cost(base, timed) -> float:
    """Median seconds of ``timed`` minus median seconds of ``base``,
    alternating the two so drift hits both alike."""
    _noop_seconds(base), _noop_seconds(timed)  # compile both plans untimed
    b, t = [], []
    for _ in range(REPEATS):
        b.append(_noop_seconds(base))
        t.append(_noop_seconds(timed))
    return max(0.0, statistics.median(t) - statistics.median(b))


def micro_timings(spark, src_dir: str, seed: int) -> dict:
    from pyspark.sql import functions as F

    from kafka_streams_dead_letter_publishing_spark.operators.headers import append_error_header
    from kafka_streams_dead_letter_publishing_spark.operators.mapper import random_lowercase_string
    from kafka_streams_dead_letter_publishing_spark.serde import int32be_decode, int32be_encode
    from kafka_streams_dead_letter_publishing_spark.sources.records import KAFKA_SOURCE_SCHEMA

    records = spark.read.schema(KAFKA_SOURCE_SCHEMA).parquet(src_dir)
    staged = records.select(
        "key",
        "value",
        "headers",
        int32be_decode(F.col("value")).alias("n"),
        F.xxhash64("key", "topic", "partition", "offset").alias("uniq"),
    ).persist()
    rows = staged.count()
    # the mapper runs on the records the engine would generate output for
    gen_rows = staged.filter((F.col("n") >= 0) & (F.col("n") <= 1_048_000)).persist()
    chars = gen_rows.agg(F.sum("n")).first()[0] or 0
    decoded = staged.filter(F.col("n").isNotNull())
    n_decoded = decoded.count()
    n, uniq = F.col("n"), F.col("uniq")
    out = {
        "serde.int32be_decode_ns_per_row": _cost(
            staged.select("value"), staged.select(int32be_decode(F.col("value")))
        )
        / max(rows, 1)
        * 1e9,
        "serde.int32be_encode_ns_per_row": _cost(decoded.select(n), decoded.select(int32be_encode(n)))
        / max(n_decoded, 1)
        * 1e9,
        "headers.append_error_header_ns_per_row": _cost(
            staged.select("headers"),
            staged.select(append_error_header(F.col("headers"), F.lit("bench error"))),
        )
        / max(rows, 1)
        * 1e9,
        "mapper.random_lowercase_string_ns_per_char": _cost(
            gen_rows.select(n, uniq), gen_rows.select(random_lowercase_string(n, uniq, seed))
        )
        / max(chars, 1)
        * 1e9,
    }
    gen_rows.unpersist()
    staged.unpersist()
    out["rows"] = rows
    out["chars"] = int(chars)
    return out
